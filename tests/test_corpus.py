"""Corpus-management operators: decontamination, stratified sampling, TF-IDF."""

from pyspark.sql import functions as F

from paraocr_spark.operators.corpus import (
    decontaminate,
    stratified_sample,
    tfidf_top_terms,
)

SF_DIR = "/root/testdata/sf0.001"


def test_decontaminate_finds_planted_overlap(spark):
    docs = spark.createDataFrame(
        [
            (3, "alpha beta gamma delta epsilon zeta"),       # train
            (5, "unrelated words entirely different tokens"),  # train
            (97, "alpha beta gamma delta other tail words"),   # test: 4-gram hit
            (194, "nothing shared with any training doc"),     # test: clean
        ],
        schema="doc_id long, text string",
    )
    out = decontaminate(
        docs.where(F.col("doc_id") % 97 != 0),
        docs.where(F.col("doc_id") % 97 == 0),
        n=4,
    ).collect()
    got = {r.test_id: (r.n_hits, r.n_train_docs) for r in out}
    assert got == {97: (1, 1)}  # exactly one shared 4-gram, one train doc


def test_stratified_sample_deterministic_and_bounded(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    s1 = stratified_sample(docs, quotas={"en": 300}, default_quota=100)
    s2 = stratified_sample(docs, quotas={"en": 300}, default_quota=100)
    a = sorted(r.doc_id for r in s1.collect())
    assert a == sorted(r.doc_id for r in s2.collect())  # no RNG state
    # rates land near quota/denom (binomial tolerance on a small corpus)
    n_en = docs.where("lang = 'en'").count()
    k_en = s1.where("lang = 'en'").count()
    assert 0.15 < k_en / n_en < 0.45


def test_tfidf_ranks_rare_terms_over_common(spark):
    docs = spark.createDataFrame(
        [(0, "common common rareword"), (1, "common other"), (2, "common more")],
        schema="doc_id long, text string",
    )
    top = tfidf_top_terms(docs, k=1)
    r0 = {r.id: r.term for r in top.collect()}
    assert r0[0] == "rareword"  # df=1 beats the corpus-wide term
    # ubiquitous term has idf = ln(1) = 0 -> never ranks above a unique term


def test_span_dedup_small_oracle(spark):
    """C4-style duplicate-span removal: globally-first occurrence survives,
    later duplicates drop, docs rebuild in order; python brute oracle."""
    from paraocr_spark.operators.corpus import span_dedup

    W = 3
    rows = [
        (0, "a b c d e f g h i"),          # tiles: abc, def, ghi
        (1, "a b c x y z d e f"),          # abc + def duplicate doc0
        (2, "x y z x y z x y z"),          # self-duplicates: keep first only
        (3, "q r"),                        # short doc -> one 2-word tile
        (4, "a b c"),                      # duplicate of doc0's first tile
    ]
    docs = spark.createDataFrame(rows, schema="doc_id long, text string")

    def tiles(t):
        ws = t.strip().split(" ")
        return [" ".join(ws[i:i + W]) for i in range(0, len(ws), W)]

    first = {}
    for did, t in rows:
        for pos, win in enumerate(tiles(t)):
            first.setdefault(win, (did, pos))
    expect = {}
    for did, t in rows:
        kept = [w for pos, w in enumerate(tiles(t)) if first[w] == (did, pos)]
        n_win = len(tiles(t))
        expect[did] = (" ".join(kept), n_win, n_win - len(kept))

    got = {
        r.id: (r.clean_text, r.n_windows, r.n_removed)
        for r in span_dedup(docs, w=W).collect()
    }
    assert got == expect
    assert got[1] == ("x y z", 3, 2)       # doc1 keeps only its novel tile
    # doc2's every tile is "x y z", first seen at doc1 pos1 -> all drop
    assert got[2] == ("", 3, 3)
    assert got[4] == ("", 1, 1)            # fully-duplicate doc empties


def test_gopher_signals_and_gate(spark):
    """Gopher signal battery on crafted docs: repetition, word-length and
    stopword rules each flip the gate."""
    from pyspark.sql import functions as F

    from paraocr_spark.functions.text import gopher_gate, gopher_signals

    good = "the quick brown fox jumps over a lazy dog and runs on its way " * 5
    repeat = "spam " * 80                   # distinct_ratio 1/80
    longw = ("x" * 30 + " ") * 60           # mean word len 30
    rows = [(0, good.strip()), (1, repeat.strip()), (2, longw.strip()), (3, "")]
    docs = spark.createDataFrame(rows, schema="doc_id long, text string")
    out = {
        r.doc_id: r
        for r in docs.select(
            "doc_id", gopher_signals(F.col("text")).alias("g")
        ).select("doc_id", "g.*",
                 gopher_gate(signals=F.col("g")).alias("p")).collect()
    }
    assert out[0].p is True and out[0].stop_hits >= 2
    assert out[1].p is False and out[1].distinct_ratio == round(1 / 80, 4)
    assert out[2].p is False and out[2].mean_word_len == 30.0
    assert out[3].n_words == 0 and out[3].p is False
    assert out[0].n_words == 70 and out[0].max_word_len == 5


def test_clean_corpus_end_to_end(spark):
    """Composed pipeline: gate -> span dedup -> minhash drop -> sample.

    Planted corpus: a good doc (A), an exact duplicate of it (span dedup
    empties it but it survives as a shell row), a one-word-shifted near-dup
    (tiles all differ so span dedup keeps it, but shingle jaccard ~0.98 so
    the minhash stage drops it), a junk doc (fails the gate), and an
    unrelated good doc."""
    from paraocr_spark.operators.corpus import clean_corpus

    base = "the of " + " ".join(f"word{i:02d}" for i in range(58))  # 60 words
    other = "the of " + " ".join(f"plum{i:02d}" for i in range(53))  # 55 words
    rows = [
        (10, "en", base),             # A: keeps everything
        (20, "en", base),             # exact dup: emptied by span dedup
        (30, "en", "extra " + base),  # near-dup: dropped by minhash stage
        (40, "en", "too short"),      # fails the gate
        (50, "fr", other),            # unrelated survivor
    ]
    docs = spark.createDataFrame(rows, schema="doc_id long, lang string, text string")

    with clean_corpus(docs, w=5, threshold=0.9, default_quota=1000) as q:
        got = {r.doc_id: r for r in q.collect()}

    assert set(got) == {10, 20, 50}
    assert got[10].n_windows == 12 and got[10].n_removed == 0
    assert got[10].clean_len == len(base)
    # the exact dup's every tile first occurred in doc 10 -> empty shell
    assert got[20].n_windows == 12 and got[20].n_removed == 12
    assert got[20].clean_len == 0
    assert got[50].n_removed == 0 and got[50].lang == "fr"

    # quota 0 filters everything; the sample stage is live in the chain
    with clean_corpus(docs, w=5, threshold=0.9, default_quota=0) as q:
        assert q.count() == 0


def test_clean_corpus_releases_storage(spark):
    """The scoped persists (gated, cleaned, shingles) must all be released
    on scope exit — the r2 CacheManager-leak rule."""
    from paraocr_spark.operators.corpus import clean_corpus

    docs = spark.createDataFrame(
        [(i, "en", "the of " + " ".join(f"w{i}x{j}" for j in range(58)))
         for i in range(8)],
        schema="doc_id long, lang string, text string",
    )
    with clean_corpus(docs, default_quota=1000) as q:
        assert q.count() == 8
    jsc = spark.sparkContext._jsc
    assert jsc.getPersistentRDDs().size() == 0


def test_word_count_bound_counts_null_texts_as_zero_with_ansi_off(spark):
    """decontaminate's broadcast guard bounds the test side's n-grams by its
    word count. With ANSI off (legacy sizeOfNull) size(null) is -1, and a
    coalesce(size, 0) guard let each null text SUBTRACT one (2 against a
    true 3 here), understating the bound; greatest(size, 0) keeps it exact
    under both settings."""
    from paraocr_spark.operators.corpus import _word_count_bound

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, None)], schema="doc_id long, text string",
    )
    prev = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for ansi in ("false", "true"):
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            assert _word_count_bound(docs, "text") == 3, ansi
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
