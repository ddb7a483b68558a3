"""Physical-plan audits: the plan shape IS the 100 TB contract.

These pin the Catalyst properties the engine relies on at scale:
filter/column pushdown into parquet scans, broadcast of small join sides,
map-side partial aggregation, and no Python in relational-only paths.
A regression here won't fail a 500-row correctness test — it fails at 100 TB.
"""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def _exchanges(p: str) -> list:
    import re

    return [m.group(0) for m in
            re.finditer(r"\(\d+\) Exchange[^(]*(?:\n(?!\(\d+\)).*)*", p)]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_filter_and_column_pushdown(spark, docs):
    q = docs.where(F.col("lang") == "de").select("doc_id", "n_chars")
    p = plan_of(q)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,de)]" in p
    # column pruning: text (the wide column) must NOT be read
    assert "ReadSchema: struct<doc_id:bigint,lang:string,n_chars:bigint>" in p


def test_resume_anti_join_prunes_and_pushes(spark, docs):
    from paraocr_spark.operators.resume import filter_unprocessed
    from paraocr_spark.sources.pages import pages_from_documents

    pages = pages_from_documents(docs, "html")
    done = pages_from_documents(docs.where(F.col("doc_id") % 3 == 0), "html").select("url")
    p = plan_of(filter_unprocessed(pages, done))
    # small done-side broadcasts; anti join never shuffles the big side
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_resume_anti_join_needs_no_dedup_of_done_keys(spark):
    """A done side that repeats a url (say, a url written by two
    invocations) removes the same pages as a deduplicated one, and the
    optimized plan aggregates nothing on the done side: the left-anti join
    alone gives the rows, with no extra shuffle or 1-task stage."""
    from paraocr_spark.operators.resume import filter_unprocessed

    pages = spark.range(0, 40, 1, 4).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        F.col("id"))
    once = pages.where(F.col("id") % 3 == 0).select("url")
    twice = once.unionAll(once).unionAll(
        once.where(F.col("url") == "u3"))
    out = filter_unprocessed(pages, twice)
    rows = sorted(r.id for r in out.collect())
    assert rows == [i for i in range(40) if i % 3]
    assert rows == sorted(r.id for r in filter_unprocessed(pages, once).collect())
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in optimized, optimized


def test_ann_topk_two_phase(spark):
    """ANN brute force: queries broadcast as numpy, candidates matmul'd per
    batch with LOCAL top-k — the only Exchange is the tiny final window
    (partitions x queries x k rows), never the full score matrix."""
    from paraocr_spark.operators.similarity import ann_topk_bruteforce

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    p = plan_of(ann_topk_bruteforce(emb, k=5, n_queries=10))
    assert "MapInPandas" in p
    assert "Join" not in p  # no crossjoin of candidates x queries
    # the window's hashpartition(q) is the ONLY Exchange: the operator adds
    # no input fan-out of its own (a coarse table is fanned out where it is
    # read, sources.io.read_table, and this plain scan is not)
    exchanges = _exchanges(p)
    assert len(exchanges) == 1 and "hashpartitioning" in exchanges[0]


def test_dedup_exact_partial_agg(spark, docs):
    from paraocr_spark.operators.dedup import dedup_exact

    p = plan_of(dedup_exact(docs))
    # map-side combine before the exchange (two HashAggregate stages)
    assert p.count("HashAggregate") >= 2
    assert "partial_min" in p or "partial_count" in p
    # fingerprints are JVM expressions: no Python evaluation anywhere
    assert "Python" not in p


def test_minhash_partial_min_and_no_python(spark, docs):
    from paraocr_spark.operators.dedup import minhash_signatures, with_shingles

    # map-side partial mins, pure JVM
    p = plan_of(minhash_signatures(with_shingles(docs)))
    assert "partial_min" in p
    assert "Python" not in p  # signature path is pure JVM expressions


def test_simhash_no_python(spark, docs):
    from paraocr_spark.operators.dedup import simhash64

    p = plan_of(simhash64(docs))
    assert "Python" not in p
    assert "xxhash64" in p.lower()


def test_kernel_no_shuffle_for_normal_docs(spark, tmp_path):
    """The extraction kernel on non-giant docs is shuffle-free: scan ->
    ArrowEvalPython/MapInArrow -> project. Any Exchange here would shuffle
    the full corpus at 100 TB. The operator never fans out its input (a
    coarse source is fanned out at the scan, tested below); the input here
    is the at-scale shape, a scan with >= defaultParallelism splits."""
    from paraocr_spark.operators.extract import extract_pages
    from paraocr_spark.sources.pages import pages_from_documents

    target = spark.sparkContext.defaultParallelism
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    path = str(tmp_path / "pages")
    pages_from_documents(docs, "html").repartition(target).write.parquet(path)
    pages = spark.read.parquet(path)
    assert pages.rdd.getNumPartitions() >= target
    p = plan_of(extract_pages(pages, salt=False))
    assert "Exchange" not in p
    assert "MapInArrow" in p


def _jobs_in(sc, group: str, fn):
    """(fn(), ids of the Spark jobs fn ran), via a job group."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, set(sc.statusTracker().getJobIdsForGroup(group))


def test_fanout_conditional_on_scan_parallelism(spark, tmp_path):
    """The scan decides input fan-out once (guide §2: scale-adaptive
    partitioning). A parquet table with fewer row groups than
    defaultParallelism — a one-row-group file would run every map stage on
    one core — gets exactly one round-robin Exchange to defaultParallelism;
    a table with >= defaultParallelism row groups (the 100 TB case) gets
    none. The decision reads only the footers: read_table runs no job
    beyond spark.read.parquet's own schema inference. A zip source decides
    the same way from its archive count."""
    import zipfile

    import pyarrow.parquet as pq

    from paraocr_spark.sources import io as pio

    sc = spark.sparkContext
    target = sc.defaultParallelism
    coarse_path = f"{SF_DIR}/documents.parquet"
    assert pq.read_metadata(coarse_path).num_row_groups == 1
    wide_path = str(tmp_path / "wide")
    spark.read.parquet(coarse_path).repartition(target).write.parquet(wide_path)
    assert sum(pq.read_metadata(f).num_row_groups
               for f in (tmp_path / "wide").glob("*.parquet")) >= target

    for path, n_rr in ((coarse_path, 1), (wide_path, 0)):
        _, read_jobs = _jobs_in(sc, f"read_{n_rr}", lambda: spark.read.parquet(path))
        df, jobs = _jobs_in(sc, f"read_table_{n_rr}",
                            lambda: pio.read_table(spark, path))
        assert len(jobs) == len(read_jobs), path
        p = plan_of(df)
        assert len(_exchanges(p)) == n_rr, path
        assert p.count(f"RoundRobinPartitioning({target})") == n_rr, path

    def zips(n: int) -> str:
        d = tmp_path / f"zips{n}"
        d.mkdir()
        for z in range(n):
            with zipfile.ZipFile(d / f"a{z}.zip", "w") as zf:
                zf.writestr("p.txt", "hello")
        return str(d)

    one = plan_of(pio.read_pages_zip(spark, zips(1)))
    assert len(_exchanges(one)) == 1
    assert f"RoundRobinPartitioning({target})" in one
    assert not _exchanges(plan_of(pio.read_pages_zip(spark, zips(target))))


def test_no_spark_job_while_building_plans(spark):
    """Building a plan runs no Spark job. A probe such as
    ``df.rdd.getNumPartitions()`` would: under AQE it plans the query and
    runs its shuffle stages. Covered: the resume anti-join as a sort-merge
    join (broadcast off, no shard cache) and the corpus operators over a
    post-shuffle input."""
    from paraocr_spark.operators.corpus import span_dedup, tfidf_top_terms
    from paraocr_spark.operators.dedup import simhash64, with_shingles
    from paraocr_spark.pipeline import PipelineConfig, run_extraction
    from paraocr_spark.sources.pages import pages_from_documents

    sc = spark.sparkContext
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    shuffled = docs.join(docs.select("doc_id").distinct(), "doc_id")
    pages = pages_from_documents(docs, "html")
    done = pages_from_documents(docs.where(F.col("doc_id") % 3 == 0), "html")
    builds = {
        "run_extraction": lambda: run_extraction(spark, pages, PipelineConfig(),
                                                 done=done),
        "with_shingles": lambda: with_shingles(shuffled),
        "simhash64": lambda: simhash64(shuffled),
        "tfidf_top_terms": lambda: tfidf_top_terms(shuffled),
        "span_dedup": lambda: span_dedup(shuffled),
    }
    key = "spark.sql.autoBroadcastJoinThreshold"
    prior = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        ran = {name: len(_jobs_in(sc, f"build_{name}", build)[1])
               for name, build in builds.items()}
    finally:
        spark.conf.set(key, prior)
    assert ran == {name: 0 for name in builds}


def _nodes(plan: str, name: str) -> int:
    """How many operators named ``name`` a formatted plan lists."""
    import re

    return len(re.findall(rf"^\(\d+\) {name}\b", plan, re.M))


def test_giant_branch_only_when_footers_allow_a_giant(spark, tmp_path,
                                                      scoped_split):
    """run_extraction salts only docs larger than one scan split, and
    decides from the parquet footers whether one can exist. Parquet pages
    whose html chunks all fit the (default) split build ONE branch: one
    scan, one MapInArrow (the kernel), no giant filter — and reading the
    footers runs no Spark job. The same files under a split smaller than
    their giants get the salted giant branch back; so does a generated
    input, which has no files to read."""
    from paraocr_spark.pipeline import PipelineConfig, run_extraction
    from paraocr_spark.sources.pages import pages_df

    sc = spark.sparkContext
    path = str(tmp_path / "pages")
    pages_df(spark, 120, 4).write.parquet(path)  # three giants > 64 KB
    pages = spark.read.parquet(path)

    out, jobs = _jobs_in(sc, "build_footers",
                         lambda: run_extraction(spark, pages, PipelineConfig()))
    assert not jobs
    p = plan_of(out)
    assert _nodes(p, "Scan parquet") == 1, p
    assert _nodes(p, "MapInArrow") == 1, p
    assert "octet_length" not in p  # no giant filter

    with scoped_split():
        p = plan_of(run_extraction(spark, spark.read.parquet(path),
                                   PipelineConfig()))
    assert _nodes(p, "Scan parquet") == 2, p
    assert _nodes(p, "MapInArrow") == 3, p  # kernel, salt split, shard kernel
    assert "octet_length" in p

    p = plan_of(run_extraction(spark, pages_df(spark, 40, 2), PipelineConfig()))
    # + the generator (a MapInPandas), under each branch
    assert _nodes(p, "MapInArrow") == 3, p
    assert _nodes(p, "MapInPandas") == 2, p
    assert "octet_length" in p


def test_relational_quality_gate_stays_jvm(spark, docs):
    from paraocr_spark.functions.text import quality_gate, quality_score

    q = docs.select(quality_score(F.col("text")), quality_gate(F.col("text")))
    p = plan_of(q)
    assert "Python" not in p
    # only the text column is read (higher-order lambdas keep this JVM-side
    # but outside whole-stage codegen — still no Python worker involved)
    assert "ReadSchema: struct<text:string>" in p


def test_ivf_sample_is_single_takeordered_job(spark):
    """ivf_assign must not pay an extra corpus pass (count) to size its
    sample: the bottom-k-by-hash sample is ONE TakeOrdered job."""
    from paraocr_spark.operators.similarity import ivf_assign

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    spark.sparkContext.setJobGroup("ivf_train", "ivf sampling")
    try:
        assigned, C = ivf_assign(emb, n_centroids=4, sample=64)
    finally:
        spark.sparkContext.setJobGroup(None, None)
    jobs = set(tracker.getJobIdsForGroup("ivf_train"))
    assert len(jobs) == 1, f"ivf_assign training ran {len(jobs)} jobs (want 1)"
    assert len(C) == 4
    assert assigned.where(F.col("cell") >= 0).count() == emb.count()


def test_no_query_leaves_persistent_rdds(spark):
    """VERDICT r2: operators must not leak executor storage — after running
    every similarity/dedup builder + action, the session holds zero
    persisted RDDs (the driver keeps sessions alive across many queries)."""
    import __spark_entry__ as entrymod

    for name in ("dedup_ngram_jaccard", "dedup_minhash_lsh", "ann_topk_lsh",
                 "ann_topk_ivf", "neardup_embedding"):
        entrymod.queries()[name](spark, SF_DIR).count()
    jsc = spark.sparkContext._jsc
    assert jsc.getPersistentRDDs().size() == 0


def test_neardup_lsh_has_no_quadratic_join(spark):
    """The LSH near-dup path must never form the blocks^2 join: all joins
    keyed (sort-merge/hash on (table,bucket) or ids), no nested-loop or
    cartesian nodes anywhere in the plan."""
    from paraocr_spark.operators.similarity import neardup_pairs_lsh

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    p = plan_of(neardup_pairs_lsh(emb, threshold=0.3))
    assert "NestedLoop" not in p and "CartesianProduct" not in p
    # and it actually runs
    assert neardup_pairs_lsh(emb, threshold=0.3).count() >= 0


def test_ppjoin_prefix_shuffle_carries_no_strings(spark, docs):
    """VERDICT r3 #3: the PPJoin prefix stage must shuffle only 8-byte
    hashes — no Exchange anywhere in the candidate plan may carry the
    shingle string column, and the pair expansion must be a keyed join
    (AQE-skew-splittable), not a per-bucket collect_set buffer."""
    import re

    from paraocr_spark.operators.dedup import ppjoin_candidates, with_shingles

    p = plan_of(ppjoin_candidates(with_shingles(docs), 0.5))
    # formatted mode lists each node; Exchange outputs must not include the
    # exploded shingle column `s` (string) — only ids/sizes/hashes/counts
    for m in re.finditer(r"\(\d+\) Exchange[^(]*(?:\n(?!\(\d+\)).*)*", p):
        node = m.group(0)
        out = re.search(r"Output(?: \[\d+\])?: \[([^\]]*)\]", node)
        if out:
            assert not re.search(r"\bs#\d+", out.group(1)), (
                "shingle string rides an Exchange:\n" + node
            )
    assert "collect_set" not in p  # streamed expansion, no bucket buffers
    # the prefix Exchange is computed once and reused by both join sides —
    # AQE materializes the reuse at runtime, so assert on the EXECUTED plan
    q = ppjoin_candidates(with_shingles(docs), 0.5)
    q.collect()
    executed = q._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in executed


def test_decontaminate_train_strings_stay_out_of_big_shuffle(spark, docs):
    """VERDICT r3 #4: decontaminate's corpus-sized join must be keyed on
    (train_id, h) only; the train gram STRINGS may appear solely on the
    broadcast-semi-filtered verify side (candidate-sized)."""
    import re

    from paraocr_spark.operators.corpus import decontaminate

    q = decontaminate(
        docs.where(F.col("doc_id") % 97 != 0),
        docs.where(F.col("doc_id") % 97 == 0),
        n=4,
    )
    p = plan_of(q)
    # every Exchange/BroadcastExchange in the plan, by its Input columns
    exchanges = []
    for m in re.finditer(r"\(\d+\) (?:Broadcast)?Exchange[^(]*(?:\n(?!\(\d+\)).*)*", p):
        out = re.search(r"Input(?: \[\d+\])?: \[([^\]]*)\]", m.group(0))
        if out:
            exchanges.append(out.group(1))
    gramful = [e for e in exchanges if re.search(r"\bg_tr#\d+|\bgram#\d+", e)]
    hash_only = [
        e for e in exchanges
        if re.search(r"\btrain_id#\d+", e) and not re.search(r"\bg_tr#\d+|\bgram#\d+", e)
    ]
    assert hash_only, "no hash-only train-side exchange found:\n" + p
    assert len(gramful) == 1, (
        "train gram strings must ride exactly the (candidate-semi-filtered) "
        "verify-side exchange: " + repr(gramful)
    )


def test_clean_corpus_input_computed_once(spark):
    """The composed clean_corpus pipeline has FOUR consumers of the
    gated/extracted input (span_dedup's explode/totals, the lang join, the
    shingle table). Without the scoped persist each would re-run the
    upstream extraction kernel — at 100 TB that is 4x the dominant cost.
    An accumulator counts how many times each input row is actually
    computed: must be exactly once."""
    from pyspark.sql import functions as F

    from paraocr_spark.operators.corpus import clean_corpus

    acc = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for b in batches:
            acc.add(len(b))
            yield b

    docs = spark.createDataFrame(
        [(i, "en", "the of " + " ".join(f"w{i}x{j}" for j in range(58)))
         for i in range(16)],
        schema="doc_id long, lang string, text string",
    ).mapInPandas(count_rows, schema="doc_id long, lang string, text string")

    with clean_corpus(docs, default_quota=1000) as q:
        assert q.count() == 16
    assert acc.value == 16
