"""Dump formatted physical plans. Run from the repo root.

    python3 tools/dump_plans.py
        regenerate PLANS.md: the key operators' plans with the
        scale-relevant properties annotated;
    python3 tools/dump_plans.py --queries OUT_DIR SUFFIX [--repo ROOT]
        write every driver query's plan to OUT_DIR/<query>_<SUFFIX>.txt,
        importing the package from ROOT (default: this checkout) — run it
        once on each of two trees for a before/after pair.

Eager queries (dedup_ngram_jaccard, dedup_minhash_lsh, clean_corpus) are
re-built LAZILY through the same operator entry points the query functions
use, so the dumped plan is the distributed pipeline — not the
LocalTableScan of their materialized result. streaming_extract has no
single batch plan to dump (its kernel plan is extract_pages', which IS
dumped via the extract_* queries). These are AQE *initial* plans: what
executed (after AQE) is in the SQL status store, not here.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"

COMMENT = {
    "extraction pipeline (salted)": (
        "What extract_pages builds, and run_extraction whenever the input "
        "may hold a layout doc larger than one scan split "
        "(spark.sql.files.maxPartitionBytes): a generated input like this "
        "one, or parquet footers with an html chunk above the split. Two "
        "source branches (normal filter / giant filter) feed the kernel "
        "exactly once per row; the normal branch is Exchange-free end to "
        "end, the giant branch shuffles only the docs larger than a split "
        "and reassembles with one keyed groupBy (JVM-side span shifting). "
        "The operator adds no input fan-out: a coarse table is "
        "round-robined to the cores where it is read "
        "(sources.io.read_table), so this plain scan, like any scan at "
        "scale, feeds the kernel directly."
    ),
    "extraction pipeline (no giant possible)": (
        "What run_extraction builds over parquet pages whose footers show "
        "every html column chunk within one scan split "
        "(sources.io.input_footprint, no Spark job): one scan, one "
        "MapInArrow (the kernel), no giant filter and no second scan or anti-join. "
        "The normal kernel extracts every doc whole, the same bytes the "
        "salted path gives."
    ),
    "extraction pipeline (salted, bucketed for the write)": (
        "The plan run_and_write and the streaming write execute, with or "
        "without a shard cache (a cache only changes where the giant "
        "branch's shard rows come from): each branch gets its own "
        "hashpartitioning(cast(warc_ts as bigint), P) Exchange BELOW the "
        "Union: the bucket's own key, so bucket b is partition b mod P. "
        "P = min(n_buckets, defaultParallelism), a divisor of n_buckets, "
        "on both sides, and "
        "write_extracted adds none above it. With "
        "spark.sql.unionOutputPartitioning (scoped on by the write) the "
        "Union zips partition i of both sides, so each bucket is one task "
        "and one file; the normal kernel's map stage runs concurrently "
        "with the giant chain instead of after it; and the write runs P "
        "tasks (one per core) rather than one per bucket."
    ),
    "resume anti-join": (
        "done-side broadcasts; the corpus side never shuffles. At a huge "
        "done-set Spark flips to sort-merge automatically."
    ),
    "exact dedup": (
        "md5 fingerprint is a JVM expression; partial_min/partial_count "
        "run map-side, one Exchange on the fingerprint."
    ),
    "minhash signatures": (
        "explode -> 64 partial mins before the single Exchange — the "
        "signature build is one shuffle regardless of k."
    ),
    "ANN top-k (two-phase)": (
        "queries broadcast as numpy; per-batch matmul emits only local "
        "top-k, so the lone Exchange carries partitions x queries x k rows."
    ),
    "quality gate (relational)": (
        "pure built-ins over one pruned column; Catalyst pushes the scan "
        "to struct<text> only."
    ),
    "PPJoin candidates (prefix-filtered)": (
        "inverted index carries only 8-byte shingle hashes; the df count, "
        "the per-doc prefix (ONE groupBy with a sorted slice — no window, "
        "no prefix self-join), and the bucketed pair expansion are each one "
        "keyed Exchange — ubiquitous shingles (max df) sort LAST and never "
        "enter the index, keeping buckets sub-quadratic on Zipfian corpora."
    ),
    "LSH near-dup pairs": (
        "signatures route through ONE explicit Exchange on (table,bucket); "
        "AQE shuffle-stage reuse evaluates the signature UDF once per "
        "action, the self-join is keyed, the exact-cosine verify touches "
        "candidates only — no nested-loop or cartesian node anywhere."
    ),
    "simhash + Manku banding": (
        "signature build is explode -> per-bit partial sums, ONE Exchange; "
        "candidates join on 20 combination-block keys (~32-bit), so bucket "
        "size is ~N/2^32 instead of naive 16-bit banding's ~N/2^16."
    ),
}


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def session(cores: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def write_plans_md() -> None:
    from pyspark.sql import functions as F

    from paraocr_spark.functions.text import quality_gate
    from paraocr_spark.operators.dedup import (
        dedup_exact,
        dedup_simhash,
        minhash_signatures,
        ppjoin_candidates,
        with_shingles,
    )
    from paraocr_spark.operators.extract import extract_pages
    from paraocr_spark.operators.resume import filter_unprocessed
    from paraocr_spark.operators.similarity import ann_topk_bruteforce, neardup_pairs_lsh
    from paraocr_spark.sources.io import WARC_BUCKETS
    from paraocr_spark.sources.pages import pages_from_documents

    spark = session(4)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pages = pages_from_documents(docs, "html")
    done = pages_from_documents(docs.where(F.col("doc_id") % 3 == 0), "html").select("url")

    from paraocr_spark.pipeline import PipelineConfig, run_extraction

    pages_dir = tempfile.mkdtemp(prefix="dump_plans_pages_")
    pages.write.mode("overwrite").parquet(pages_dir)
    plans = {
        "extraction pipeline (salted)": extract_pages(pages),
        "extraction pipeline (no giant possible)": run_extraction(
            spark, spark.read.parquet(pages_dir), PipelineConfig()
        ),
        "extraction pipeline (salted, bucketed for the write)": extract_pages(
            pages, n_buckets=WARC_BUCKETS
        ),
        "resume anti-join": filter_unprocessed(pages, done),
        "exact dedup": dedup_exact(docs),
        "minhash signatures": minhash_signatures(with_shingles(docs)),
        "ANN top-k (two-phase)": ann_topk_bruteforce(emb, k=5, n_queries=10),
        "quality gate (relational)": docs.select(
            "doc_id", quality_gate(F.col("text")).alias("ok")
        ),
        "PPJoin candidates (prefix-filtered)": ppjoin_candidates(
            with_shingles(docs), 0.5
        ),
        "simhash + Manku banding": dedup_simhash(docs, 3),
        "LSH near-dup pairs": neardup_pairs_lsh(emb, threshold=0.3),
    }

    out = [
        "# PLANS — physical plans of the key operators\n",
        "Generated by `python3 tools/dump_plans.py` (sf0.001 inputs, local[4];",
        "plan shape is scale-invariant). The properties these plans pin are",
        "asserted in `tests/test_plans.py` and `tests/test_pipeline.py`.\n",
    ]
    for name, df in plans.items():
        tree = plan_of(df).split("\n\n")[0]  # the tree, not node details
        out.append(f"## {name}\n")
        out.append(COMMENT[name] + "\n")
        out.append("```\n" + tree.strip() + "\n```\n")

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()
    shutil.rmtree(pages_dir, ignore_errors=True)


def dump_queries(out_dir: str, suffix: str) -> None:
    from pyspark.sql import functions as F

    spark = session(8)
    os.makedirs(out_dir, exist_ok=True)

    import __spark_entry__ as entrymod

    lazy_queries = [
        "extract_html_roundtrip", "extract_fastpath_gate", "extract_features",
        "dedup_exact", "dedup_simhash", "neardup_lsh", "ann_topk",
        "ann_topk_ivf", "ann_topk_lsh", "ann_topk_ivf_recall",
        "decontaminate", "tfidf_top_terms", "span_dedup", "media_stats",
        "lang_id",
    ]
    qs = entrymod.queries()
    done = []

    def dump(name: str, df) -> None:
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan_of(df))
        done.append(name)

    for name in lazy_queries:
        try:
            dump(name, qs[name](spark, SF))
        except Exception as e:  # a query absent in an older tree: skip
            print(f"SKIP {name}: {e}", file=sys.stderr)

    # eager queries: dump the inner distributed pipeline lazily
    from paraocr_spark.operators.dedup import (dedup_minhash_lsh,
                                               dedup_ngram_jaccard,
                                               with_shingles)

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sh = with_shingles(docs).repartition(F.col("id"))
    dump("dedup_ngram_jaccard", dedup_ngram_jaccard(docs, threshold=0.5, sh=sh))
    dump("dedup_minhash_lsh", dedup_minhash_lsh(docs, threshold=0.9, sh=sh))

    from paraocr_spark.operators.corpus import clean_corpus
    from paraocr_spark.operators.extract import extract_pages
    from paraocr_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(docs, "html")
    extracted = extract_pages(pages, salt=False).select(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long").alias("doc_id"),
        "lang",
        F.col("extracted_text").alias("text"),
    )
    with clean_corpus(extracted, w=5, threshold=0.9,
                      quotas={"en": 300, "zh": 200}, default_quota=100) as res:
        dump("clean_corpus", res)
    print(f"dumped {len(done)} plans ({suffix}): {', '.join(done)}")
    spark.stop()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--queries", nargs=2, metavar=("OUT_DIR", "SUFFIX"),
                   help="dump every driver query's plan instead of PLANS.md")
    p.add_argument("--repo", default=REPO,
                   help="checkout whose package is imported (default: this one)")
    args = p.parse_args(argv)
    sys.path.insert(0, os.path.abspath(args.repo))
    if args.queries:
        dump_queries(*args.queries)
    else:
        write_plans_md()
    return 0


if __name__ == "__main__":
    sys.exit(main())
