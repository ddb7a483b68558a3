"""The benchmark's workloads: inputs, warm-up, one repetition, the output
check, and the traced per-layer measurements.

Every call into the program goes through its public API
(``paraocr_spark.pipeline``, ``operators.*``, ``sources.io``, ``backends``,
``core.*``). A per-layer function the program no longer has reports zero.
"""

from __future__ import annotations

import glob
import json
import os
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen
from tracing import duration, resolve, wrap_attr

CHECK_EVERY = 20  # extract_crawl check: every k-th url, plus giants and corrupt rows


def parquet_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in
               glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def noop(df) -> None:
    """Run a DataFrame's whole plan and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> tuple[float, object]:
    t = time.perf_counter()
    out = fn()
    return time.perf_counter() - t, out


def _probe_recorder(probes: list):
    def on_probe(args, res, attrs):
        attrs["fanout"] = res is not args[0]
        probes.append(attrs["fanout"])
    return on_probe


# ======================================================= extract_crawl
class ExtractCrawl:
    """A fresh ``pipeline.run_and_write`` over a generated crawl snapshot."""

    name = "extract_crawl"

    def __init__(self, cache_root: str, work: str, seed: int):
        self.seed, self.work = seed, work
        d, done = gen.cached_dir(cache_root, "pages", seed)
        self.pages_path = os.path.join(d, "pages")
        if not done:
            tbl, labels = gen.gen_pages(seed)
            gen.write_pages(self.pages_path, tbl)
            with open(os.path.join(d, "labels.json"), "w") as f:
                json.dump(labels, f)
            gen.mark_complete(d)
        with open(os.path.join(d, "labels.json")) as f:
            self.labels = json.load(f)
        self.n_docs = len(self.labels)
        self.in_bytes = parquet_bytes(self.pages_path)
        self.urls = pq.read_table(self.pages_path, columns=["url"]).column("url").to_pylist()
        self.expect_idx = list(range(self.n_docs))
        self.sample_idx = [i for i, c in enumerate(self.labels)
                           if i % CHECK_EVERY == 0 or c in ("giant", "corrupt")]
        self._expected = None
        from paraocr_spark.pipeline import PipelineConfig

        self.cfg = PipelineConfig(run_id="bench")
        self.done = None

    # ---------------------------------------------------------- set-up
    def open(self, spark) -> None:
        self.spark = spark
        self.pages = spark.read.parquet(self.pages_path)

    def warm(self) -> None:
        """One input-scan warm-up and a small fixed kernel warm-up, the
        shape of ``job.py --warmup``."""
        from pyspark.sql import functions as F

        from paraocr_spark.operators.extract import extract_pages

        self.pages.select(F.sum(F.octet_length("html"))).collect()
        noop(extract_pages(self.pages.limit(64)))

    # ------------------------------------------------------------- rep
    def rep(self, out: str, tracer) -> dict:
        from paraocr_spark.pipeline import run_and_write

        with tracer.span("pipeline.run_and_write"):
            return run_and_write(self.spark, self.pages, os.path.join(out, "extracted"),
                                 os.path.join(out, "lineage"), self.cfg, self.done)

    def out_bytes(self, out: str) -> int:
        return parquet_bytes(os.path.join(out, "extracted"))

    def _expected_sample(self) -> dict:
        """url -> (text, spans, method, error) from the program's serial
        oracle ``core.reference.extract_document``, for the checked rows."""
        if self._expected is None:
            from paraocr_spark.core.reference import extract_document

            rows = pq.read_table(self.pages_path).take(pa.array(self.sample_idx)).to_pylist()
            self._expected = {}
            for r in rows:
                e = extract_document(r["html"], r["text"])
                self._expected[r["url"]] = (e.extracted_text, list(e.spans),
                                            e.method, e.error)
        return self._expected

    def check(self, out: str) -> str | None:
        """None when the output is correct, else the first problem found."""
        d = ds.dataset(os.path.join(out, "extracted"), format="parquet",
                       partitioning="hive")
        urls = d.to_table(columns=["url"]).column("url").to_pylist()
        want = {self.urls[i] for i in self.expect_idx}
        if len(urls) != len(want) or set(urls) != want:
            return f"row set: {len(urls)} rows, {len(set(urls) ^ want)} urls differ"
        exp = self._expected_sample()
        got = d.to_table(
            columns=["url", "extracted_text", "spans", "method", "error"],
            filter=pc.field("url").isin(list(exp)),
        ).to_pylist()
        for r in got:
            spans = [(s["start"], s["end"]) for s in (r["spans"] or [])]
            if (r["extracted_text"], spans, r["method"], r["error"]) != exp[r["url"]]:
                return f"{r['url']}: output differs from core.reference"
        return None

    # ---------------------------------------------------------- traced
    def trace_rep(self, out: str, tracer) -> dict:
        """One repetition with spans around the pipeline's calls into the
        resume, extract, skew-probe and write layers."""
        probes: list = []
        with wrap_attr(tracer, "paraocr_spark.operators.skew", "ensure_min_parallelism",
                       "operators.skew.ensure_min_parallelism", _probe_recorder(probes)), \
             wrap_attr(tracer, "paraocr_spark.pipeline", "filter_unprocessed",
                       "operators.resume.filter_unprocessed"), \
             wrap_attr(tracer, "paraocr_spark.pipeline", "extract_pages",
                       "operators.extract.extract_pages"), \
             wrap_attr(tracer, "paraocr_spark.sources.io", "write_extracted",
                       "sources.write_extracted"), \
             wrap_attr(tracer, "paraocr_spark.sources.io", "write_lineage_rows",
                       "sources.write_lineage_rows"):
            m = self.rep(out, tracer)
        m["probes"] = probes
        return m

    def trace_layers(self, tracer, rep_m: dict, docs_per_s: float, cores: int) -> dict:
        """Per-layer measurements outside the repetition."""
        M: dict = {}
        with tracer.span("sources.scan"):
            M["sources.scan_s"], _ = timed(lambda: noop(self.pages))
        M["sources.scan_mb_per_s"] = self.in_bytes / 1e6 / M["sources.scan_s"]
        run_extraction = resolve("paraocr_spark.pipeline", "run_extraction")
        if run_extraction is not None:
            with tracer.span("pipeline.plan_build") as a:
                a["plan_build"] = True
                M["pipeline.plan_build_s"], _ = timed(
                    lambda: run_extraction(self.spark, self.pages, self.cfg, self.done))
        M.update(self._workload_layers(tracer, M["sources.scan_s"]))
        M["operators.extract.kernel_cpu_s"] = float(rep_m.get("kernel_cpu_s", 0.0))
        M.update(self._core_layer())
        kdps = M.get("core.kernel_docs_per_s", 0.0)
        M["pipeline.parallel_efficiency"] = docs_per_s / (cores * kdps) if kdps else 0.0
        return M

    def _workload_layers(self, tracer, scan_s: float) -> dict:
        """The kernel, salting and write layers, which this workload runs
        over the whole snapshot."""
        from pyspark import StorageLevel
        from pyspark.sql import functions as F

        M: dict = {}
        extract_pages = resolve("paraocr_spark.operators.extract", "extract_pages")
        if extract_pages is not None:
            with tracer.span("operators.extract.kernel_stage") as a:
                a["kernel_stage"] = True
                t, _ = timed(lambda: noop(extract_pages(self.pages)))
            M["operators.extract.kernel_stage_s"] = max(0.0, t - scan_s)

        split = resolve("paraocr_spark.operators.extract", "split_normal_giants")
        salt = resolve("paraocr_spark.operators.skew", "salt_pages")
        if split is not None and salt is not None:
            shards = salt(split(self.pages)[1]).persist(StorageLevel.DISK_ONLY)
            with tracer.span("operators.skew.salt_pages"):
                M["operators.skew.salt_s"], n = timed(shards.count)
            M["operators.skew.shards"] = float(n)
            shards.unpersist()

        write_extracted = resolve("paraocr_spark.sources.io", "write_extracted")
        if write_extracted is not None and extract_pages is not None:
            ready = (
                extract_pages(self.pages)
                .withColumn("config_fp", F.lit(self.cfg.fingerprint))
                .withColumn("run_id", F.lit(self.cfg.run_id))
                .withColumn("invocation_id", F.lit("bench-write"))
                .persist(StorageLevel.DISK_ONLY)
            )
            ready.count()
            with tracer.span("sources.write_extracted_only"):
                M["sources.write_extracted_s"], _ = timed(
                    lambda: write_extracted(ready, os.path.join(self.work, "write_only"),
                                            n_buckets=self.cfg.warc_buckets))
            ready.unpersist()
        return M

    def _core_layer(self) -> dict:
        """Single-process kernel throughput on route-homogeneous and mixed
        batches taken from this workload's input."""
        get_backend = resolve("paraocr_spark.backends", "get_backend")
        feats = resolve("paraocr_spark.core.features", "compute_features_batch")
        if get_backend is None:
            return {}
        be = get_backend("default")
        tbl = pq.read_table(self.pages_path)

        def batch(classes, n):
            idx = [i for i, c in enumerate(self.labels)
                   if classes is None or c in classes][:n]
            return tbl.take(pa.array(idx)).to_pandas()

        def rate(fn, units):
            """(units per second over >= 0.5 s of repeated calls, last result)."""
            t0, done, res = time.perf_counter(), 0.0, None
            while time.perf_counter() - t0 < 0.5:
                res = fn()
                done += units
            return done / (time.perf_counter() - t0), res

        def mb(pdf):
            return sum(len(h) for h in pdf["html"] if h is not None) / 1e6

        html = batch({"clean", "linkheavy"}, 128)
        lay = batch({"layout"}, 128)
        nat = batch({"native"}, 512)
        mixed = batch(None, 512)
        M = {"core.html_mb_per_s": rate(lambda: be.extract_batch(html), mb(html))[0],
             "core.layout_mb_per_s": rate(lambda: be.extract_batch(lay), mb(lay))[0],
             "core.native_docs_per_s": rate(lambda: be.extract_batch(nat), len(nat))[0]}
        ext_rate, res = rate(lambda: be.extract_batch(mixed), len(mixed))
        M["core.kernel_docs_per_s"] = ext_rate
        if feats is not None:
            texts = list(res["extracted_text"])
            f_rate = rate(lambda: feats(texts), len(texts))[0]
            M["core.features_docs_per_s"] = f_rate
            M["core.kernel_docs_per_s"] = 1.0 / (1.0 / ext_rate + 1.0 / f_rate)
        return M


# ================================================= extract_incremental
class ExtractIncremental(ExtractCrawl):
    """``run_and_write(..., done=prior)`` where ~90% of the snapshot's urls
    are already in the prior extracted table."""

    name = "extract_incremental"

    def __init__(self, cache_root: str, work: str, seed: int):
        super().__init__(cache_root, work, seed)
        new = gen.incremental_split(seed, self.labels)
        self.expect_idx = [i for i in range(self.n_docs) if new[i]]
        self.sample_idx = self.expect_idx  # every new url is checked
        self.prior_path = os.path.join(work, "prior")
        gen.write_prior(self.prior_path, pq.read_table(self.pages_path), new,
                        self.cfg.fingerprint, self.cfg.warc_buckets, seed)
        self.cache_root = cache_root

    def open(self, spark) -> None:
        super().open(spark)
        self.done = spark.read.parquet(self.prior_path)

    def warm(self) -> None:
        from pyspark.sql import functions as F

        self.done.select(F.count("url")).collect()
        super().warm()

    def _workload_layers(self, tracer, scan_s: float) -> dict:
        """The resume layer, and the corpus layers on the same seed's
        documents table."""
        M: dict = {}
        filt = resolve("paraocr_spark.operators.resume", "filter_unprocessed")
        if filt is not None:
            with tracer.span("operators.resume.filter_unprocessed"):
                M["operators.resume.filter_unprocessed_s"], kept = timed(
                    lambda: filt(self.pages, self.done, self.cfg.fingerprint)
                    .select("url").count())
            M["operators.resume.keep_frac"] = kept / self.n_docs
        corpus = CorpusDedup(self.cache_root, self.work, self.seed)
        corpus.open(self.spark)
        with tracer.span("corpus_dedup") as a:
            cm, err = corpus.layer_run(tracer)
            a["check_error"] = err
        M.update(cm)
        self.layer_checks = [err]
        return M


# ======================================================== corpus_dedup
class CorpusDedup:
    """The training-data job: ``clean_corpus`` and the exact n-gram
    jaccard dedup over a generated ``documents`` table.

    Not in BENCHMARK.json's workload list: one run takes 65-100 s at
    local[4], more than a benchmark round's time allows per run. Its layers
    are measured in extract_incremental's traced run, and it runs by name."""

    name = "corpus_dedup"
    THRESHOLD = 0.5

    def __init__(self, cache_root: str, work: str, seed: int):
        self.seed, self.work = seed, work
        d, done = gen.cached_dir(cache_root, "docs", seed)
        self.docs_path = os.path.join(d, "documents")
        if not done:
            tbl, planted = gen.gen_documents(seed)
            gen.write_documents(self.docs_path, tbl)
            with open(os.path.join(d, "planted.json"), "w") as f:
                json.dump({"exact_pairs": planted["exact_pairs"],
                           "near_pairs": [[a, b, j] for (a, b), j
                                          in sorted(planted["near_pairs"].items())]}, f)
            gen.mark_complete(d)
        with open(os.path.join(d, "planted.json")) as f:
            p = json.load(f)
        self.exact_pairs = [tuple(x) for x in p["exact_pairs"]]
        self.must_find = {(a, b) for a, b, j in p["near_pairs"] if j >= self.THRESHOLD}
        self.must_find |= set(self.exact_pairs)
        tbl = pq.read_table(self.docs_path)
        self.texts = dict(zip(tbl.column("doc_id").to_pylist(),
                              tbl.column("text").to_pylist()))
        self.n_docs = tbl.num_rows
        self.in_bytes = parquet_bytes(self.docs_path)
        self._clean_ref = None

    def open(self, spark) -> None:
        self.spark = spark
        self.docs = spark.read.parquet(self.docs_path)

    def warm(self) -> None:
        """Input-scan warm-up, then the n-gram dedup (whose verify step is
        the workload's only Python kernel) over a small fixed slice."""
        from pyspark.sql import functions as F

        from paraocr_spark.operators.dedup import dedup_ngram_jaccard

        self.docs.select(F.sum(F.length("text"))).collect()
        dedup_ngram_jaccard(self.docs.limit(32), threshold=self.THRESHOLD).collect()

    def rep(self, out: str, tracer) -> dict:
        from paraocr_spark.operators.corpus import clean_corpus
        from paraocr_spark.operators.dedup import dedup_ngram_jaccard

        with tracer.span("operators.corpus.clean_corpus"):
            with clean_corpus(self.docs) as cc:
                cc.write.parquet(os.path.join(out, "clean"))
        with tracer.span("operators.dedup.dedup_ngram_jaccard"):
            dedup_ngram_jaccard(self.docs, threshold=self.THRESHOLD).write.parquet(
                os.path.join(out, "pairs"))
        return {}

    def out_bytes(self, out: str) -> int:
        return parquet_bytes(out)

    def check(self, out: str) -> str | None:
        seen = set()
        for r in pq.read_table(os.path.join(out, "pairs")).to_pylist():
            a, b, j = r["a"], r["b"], r["jaccard"]
            if not a < b or (a, b) in seen:
                return f"pair ({a}, {b}) not ordered or repeated"
            seen.add((a, b))
            exact = round(gen.jaccard(self.texts[a], self.texts[b]), 6)
            if abs(exact - j) > 1e-9 or exact < self.THRESHOLD:
                return f"pair ({a}, {b}): reported {j}, exact {exact}"
        missed = self.must_find - seen
        if missed:
            return f"{len(missed)} planted pairs with jaccard >= {self.THRESHOLD} not found"
        clean = pq.read_table(os.path.join(out, "clean"))
        rows = sorted(tuple(r.values()) for r in clean.to_pylist())
        if self._clean_ref is None:
            self._clean_ref = rows
        elif rows != self._clean_ref:
            return "clean_corpus output differs from the first repetition"
        survivors = set(clean.column("doc_id").to_pylist())
        both = [p for p in self.exact_pairs if p[0] in survivors and p[1] in survivors]
        if both:
            return f"exact duplicates {both[0]} both survive clean_corpus"
        return None

    def trace_rep(self, out: str, tracer) -> dict:
        probes: list = []
        with wrap_attr(tracer, "paraocr_spark.operators.skew", "ensure_min_parallelism",
                       "operators.skew.ensure_min_parallelism", _probe_recorder(probes)):
            self.rep(out, tracer)
        return {"probes": probes,
                "pairs": pq.read_table(os.path.join(out, "pairs")).num_rows,
                "survivors": pq.read_table(os.path.join(out, "clean")).num_rows}

    def layer_run(self, tracer) -> tuple[dict, str | None]:
        """One traced repetition plus the per-layer measurements, for use
        inside another workload's traced run: (metrics, check error)."""
        out = os.path.join(self.work, "corpus")
        self.warm()
        with tracer.span("rep"):
            rep_m = self.trace_rep(out, tracer)
        err = self.check(out)
        M = self._layers(tracer, rep_m)
        for s in tracer.spans:
            if s["name"] == "operators.corpus.clean_corpus" and "end" in s:
                M["operators.corpus.clean_corpus_s"] = duration(s)
            if s["name"] == "operators.dedup.dedup_ngram_jaccard" and "end" in s:
                M["operators.dedup.ngram_jaccard_s"] = duration(s)
        return M, err

    def trace_layers(self, tracer, rep_m: dict, docs_per_s: float, cores: int) -> dict:
        M: dict = {}
        with tracer.span("sources.scan"):
            M["sources.scan_s"], _ = timed(lambda: noop(self.docs))
        M["sources.scan_mb_per_s"] = self.in_bytes / 1e6 / M["sources.scan_s"]
        M.update(self._layers(tracer, rep_m))
        return M

    def _layers(self, tracer, rep_m: dict) -> dict:
        from pyspark.sql import functions as F

        M: dict = {}

        with_shingles = resolve("paraocr_spark.operators.dedup", "with_shingles")
        stats = resolve("paraocr_spark.operators.dedup", "shingle_stats")
        cands = resolve("paraocr_spark.operators.dedup", "ppjoin_candidates")
        if with_shingles is not None:
            with tracer.span("operators.dedup.with_shingles"):
                M["operators.dedup.with_shingles_s"], _ = timed(
                    lambda: noop(with_shingles(self.docs)))
            sh = with_shingles(self.docs).repartition(F.col("id"))
            if stats is not None:
                with tracer.span("operators.dedup.shingle_stats"):
                    M["operators.dedup.shingle_stats_s"], st = timed(lambda: stats(sh))
                M["operators.dedup.shingle_rows"] = float(st["n_instances"])
            if cands is not None:
                with tracer.span("operators.dedup.ppjoin_candidates"):
                    n = cands(sh, self.THRESHOLD, distinct=False).count()
                M["operators.dedup.candidates"] = float(n)
        M["operators.dedup.pairs"] = float(rep_m.get("pairs", 0))
        if M.get("operators.dedup.candidates"):
            M["operators.dedup.pair_yield"] = (M["operators.dedup.pairs"]
                                               / M["operators.dedup.candidates"])

        minhash = resolve("paraocr_spark.operators.dedup", "dedup_minhash_lsh")
        if minhash is not None:
            with tracer.span("operators.dedup.dedup_minhash_lsh"):
                M["operators.dedup.minhash_lsh_s"], _ = timed(
                    lambda: minhash(self.docs, threshold=0.9).collect())
        span_dedup = resolve("paraocr_spark.operators.corpus", "span_dedup")
        if span_dedup is not None:
            with tracer.span("operators.corpus.span_dedup"):
                M["operators.corpus.span_dedup_s"], _ = timed(
                    lambda: noop(span_dedup(self.docs)))
        gate = resolve("paraocr_spark.functions.text", "gopher_gate")
        if gate is not None:
            with tracer.span("operators.corpus.gopher_gate"):
                kept = self.docs.where(F.col("text").isNotNull() & gate(F.col("text"))).count()
            M["operators.corpus.gate_keep_frac"] = kept / self.n_docs
        M["operators.corpus.survivors"] = float(rep_m.get("survivors", 0))
        return M


WORKLOADS = {w.name: w for w in (ExtractCrawl, ExtractIncremental, CorpusDedup)}
