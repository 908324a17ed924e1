"""Facade parity: SeriesClient fetch-with-cache flow and the chained
DocumentPipeline."""

from pyspark.sql import functions as F

from pyperustats_spark.api import DocumentPipeline, SeriesClient
from pyperustats_spark.operators import timeseries as TS


def test_series_client_fetch_and_cache_reuse(spark, tables, tmp_path):
    long_df = TS.series_long(tables["lineitem"])
    client = SeriesClient(spark, long_df, str(tmp_path / "series_cache"))

    known, unknown = client.validate_codes(["AF", "NO", "BOGUS"])
    assert known == ["AF", "NO"] and unknown == ["BOGUS"]

    wide = client.fetch(["AF", "NO", "BOGUS"], freq="M")
    assert set(wide.columns) == {"date", "AF", "NO"}
    n = wide.count()
    assert n > 0
    # dates ascending (reference sorts wide frames by date)
    dates = [r["date"] for r in wide.select("date").collect()]
    assert dates == sorted(dates)

    # second fetch: everything cached, no new increment
    cache_m = client.cache_for("M")
    before = cache_m._next_batch_id()
    wide2 = client.fetch(["AF", "NO"], freq="M")
    assert cache_m._next_batch_id() == before
    assert wide2.count() == n

    # a new code triggers exactly one increment for the missing series
    client.fetch(["AF", "NO", "RF"], freq="M")
    assert cache_m._next_batch_id() == before + 1
    assert "RF" in cache_m.cached_codes()


def test_series_client_multi_frequency_fetch(spark, tables, tmp_path):
    """Mixed D/M/Q code list in ONE call (reference BCRPSeries groups
    codes by frequency suffix and runs one cache plan per frequency,
    models.py:152-170 + fetcher.py:47-107)."""
    from pyperustats_spark.api import plan_by_frequency

    # give each synthetic series a reference-style frequency suffix
    long_df = TS.series_long(tables["lineitem"]).withColumn(
        "code",
        F.when(F.col("code") == "AF", "AFD")
        .when(F.col("code") == "NO", "NOM")
        .when(F.col("code") == "RF", "RFQ")
        .when(F.col("code") == "AO", "AOA")
        .otherwise(F.concat(F.col("code"), F.lit("M"))))
    client = SeriesClient(spark, long_df, str(tmp_path / "multi_cache"))

    # suffix grouping mirrors the reference (unknown suffixes dropped,
    # duplicates collapse, lowercase input uppercased, empty raises)
    assert plan_by_frequency(["AFD", "nom", "RFQ", "NOM", "BOGUS_X"]) == {
        "D": ["AFD"], "M": ["NOM"], "Q": ["RFQ"]}
    import pytest
    with pytest.raises(ValueError):
        plan_by_frequency([])

    wide = client.fetch_multi(["AFD", "NOM", "RFQ"])
    assert set(wide.columns) == {"date", "AFD", "NOM", "RFQ"}

    # per-frequency cache namespaces were each populated by the one call
    assert client.cache_for("D").cached_codes() == ["AFD"]
    assert client.cache_for("M").cached_codes() == ["NOM"]
    assert client.cache_for("Q").cached_codes() == ["RFQ"]

    # output is row-identical to the per-frequency fetches: each code
    # column restricted to its non-null rows matches its own wide frame
    def rows(df, col):
        return {(r["date"], r[col]) for r in
                df.where(F.col(col).isNotNull()).select("date", col).collect()}

    assert rows(wide, "AFD") == rows(client.fetch(["AFD"], "D"), "AFD")
    assert rows(wide, "NOM") == rows(client.fetch(["NOM"], "M"), "NOM")
    assert rows(wide, "RFQ") == rows(client.fetch(["RFQ"], "Q"), "RFQ")

    # alignment is FULL OUTER: every date from every frequency survives
    n_dates = wide.count()
    assert n_dates == wide.select("date").distinct().count()
    for freq, code in (("D", "AFD"), ("M", "NOM"), ("Q", "RFQ")):
        assert client.fetch([code], freq).count() <= n_dates
    # dates ascending (reference sorts wide frames by date)
    dates = [r["date"] for r in wide.select("date").collect()]
    assert dates == sorted(dates)

    # a repeat call is served fully from the namespaces — no increments
    befores = {f: client.cache_for(f)._next_batch_id() for f in "DMQ"}
    client.fetch_multi(["AFD", "NOM", "RFQ"])
    assert befores == {f: client.cache_for(f)._next_batch_id() for f in "DMQ"}

    # all four frequencies: the catalogue is checked once per call, and
    # the groups' long views are pivoted once — no full-outer join chain
    import pyperustats_spark.plans as P
    validations = []
    validate = client.validate_codes
    client.validate_codes = lambda cs: validations.append(cs) or validate(cs)
    wide4 = client.fetch_multi(["NOM", "AOA", "RFQ", "AFD", "BOGUSM"])
    assert len(validations) == 1
    del client.validate_codes
    # date, then frequencies sorted, known codes sorted within each
    assert wide4.columns == ["date", "AOA", "AFD", "NOM", "RFQ"]
    assert P.count_exchanges(wide4) <= 6
    assert "Join" not in P.explain_str(wide4, "simple")
    for freq, code in (("A", "AOA"), ("D", "AFD"), ("M", "NOM"),
                       ("Q", "RFQ")):
        assert rows(wide4, code) == rows(client.fetch([code], freq), code)
    assert wide4.count() == wide4.select("date").distinct().count()

    # an explicit window lands in its own namespace, filtered to range
    w = client.fetch_multi(["AFD", "NOM"], start_date="1995-01-01",
                           end_date="1995-12-31")
    assert client.cache_for(
        "M", "1995-01-01", "1995-12-31").cached_codes() == ["NOM"]
    got = [r["date"] for r in w.select("date").collect()]
    assert all(d.year == 1995 for d in got)


def test_series_client_unknown_codes_leave_cache_untouched(
        spark, tables, tmp_path):
    """A frequency group with no known code neither reads nor writes its
    namespace, even on a fresh cache."""
    long_df = TS.series_long(tables["lineitem"]).withColumn(
        "code", F.concat(F.col("code"), F.lit("D")))
    client = SeriesClient(spark, long_df, str(tmp_path / "fresh_cache"))

    only_unknown = client.fetch(["BOGUSM"], "M")
    assert only_unknown.columns == ["date"]
    assert only_unknown.count() == 0

    wide = client.fetch_multi(["AFD", "BOGUSM"])
    assert wide.columns == ["date", "AFD"]
    assert wide.count() > 0
    assert client.cache_for("D").cached_codes() == ["AFD"]
    assert client.cache_for("M").cached_codes() == []
    assert not client.cache_for("M")._has_data()


def test_document_pipeline_chain(spark, tables, tmp_path):
    docs = tables["documents"]
    pipe = (
        DocumentPipeline(spark, docs)
        .dedup_exact()
        .quality_filter(min_score=0.5)
        .lang_filter(["en", "es", "de", "fr"])
        .with_fingerprint()
    )
    out = pipe.df
    assert "fingerprint" in out.columns
    n = out.count()
    assert 0 < n <= docs.count()

    # chain is pure filtering/enrichment: surviving ids are a subset
    ids = {r["doc_id"] for r in out.select("doc_id").collect()}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert ids <= all_ids

    cache = pipe.write_cache(str(tmp_path / "doc_cache"))
    assert cache.load().count() == n


def test_document_pipeline_training_prep_chain(spark, tables, tmp_path):
    docs = tables["documents"]
    pipe = (
        DocumentPipeline(spark, docs)
        .dedup_exact()
        .dedup_fuzzy(threshold=0.15)
        .pii_scrub()
        .pack(budget=256)
    )
    out = pipe.df
    for col in ("text", "start_offset", "bin_start", "bin_end"):
        assert col in out.columns
    rows = out.orderBy("doc_id").collect()
    assert 0 < len(rows) <= docs.count()
    # packing invariants: offsets strictly increase in doc_id order and
    # every bin span is well-formed
    last = -1
    for r in rows:
        assert r["start_offset"] > last or r["start_offset"] == 0
        last = r["start_offset"]
        assert r["bin_end"] >= r["bin_start"] >= 0

    # chunk grain change: (doc_id, chunk_id) keyed frame
    chunks = DocumentPipeline(spark, docs).chunk(
        chunk_tokens=30, overlap=5).df
    assert {"doc_id", "chunk_id", "chunk_len", "chunk_text"} <= set(chunks.columns)
    assert chunks.count() >= docs.where(F.length("text") > 0).count()


def test_document_pipeline_resume_without_repeat(spark, tables, tmp_path):
    """Tri-state resume (INEIFetcher chaining): a re-run of the same
    stage transforms NOTHING that already completed — only pending
    items' documents pass through the transform."""
    from pyperustats_spark.sources.progress import StageProgressTracker

    docs = tables["documents"].limit(40).withColumn(
        "module", (F.col("doc_id") % 4).cast("string"))
    tracker = StageProgressTracker(
        spark, str(tmp_path / "prog"), keys=["module"])

    def tag(df):
        return df.withColumn("text", F.concat(F.col("text"), F.lit("#D")))

    # first run: all 4 modules pending → every doc tagged once
    pipe = DocumentPipeline(spark, docs).run_stage(tracker, "downloaded", tag)
    once = pipe.df.where(F.col("text").endswith("#D")).count()
    assert once == 40

    # re-run of the SAME stage on a resumed pipeline: pending set is
    # empty, the transform touches nothing — no doc gets a second tag
    resumed = DocumentPipeline(spark, pipe.df).run_stage(
        tracker, "downloaded", tag)
    assert resumed.df.where(F.col("text").endswith("#D#D")).count() == 0
    assert resumed.df.where(F.col("text").endswith("#D")).count() == 40

    # a NEW module appears: only its docs flow through the stage
    extra = tables["documents"].limit(50).subtract(
        tables["documents"].limit(40)).withColumn("module", F.lit("9"))
    merged = resumed.df.unionByName(extra)
    third = DocumentPipeline(spark, merged).run_stage(
        tracker, "downloaded", tag)
    tagged_new = third.df.where(
        (F.col("module") == "9") & F.col("text").endswith("#D")).count()
    assert tagged_new == 10
    assert third.df.where(F.col("text").endswith("#D#D")).count() == 0

    # the next stage plans the full completed set exactly once
    items = third.df.select("module").distinct()
    pend_extract = {r["module"]
                    for r in tracker.pending(items, "unzipped").collect()}
    assert pend_extract == {"0", "1", "2", "3", "9"}


def test_run_stage_guards_document_grain_snapshot(spark, tables, tmp_path):
    """A tracker keyed at DOCUMENT grain would pull a corpus-scale key
    set to the driver — run_stage must refuse above the metadata bound
    instead of silently collecting it."""
    import pytest

    from pyperustats_spark.sources.progress import StageProgressTracker

    docs = tables["documents"].limit(40)
    tracker = StageProgressTracker(
        spark, str(tmp_path / "docgrain"), keys=["doc_id"])

    with pytest.raises(ValueError, match="max_pending_items"):
        DocumentPipeline(spark, docs).run_stage(
            tracker, "downloaded", max_pending_items=10)

    # nothing was marked by the refused run: every item still pending
    items = docs.select("doc_id").distinct()
    assert tracker.pending(items, "downloaded").count() == 40

    # an explicitly raised bound lets an intended high-cardinality
    # tracker through (caller has asserted the cardinality is fine)
    pipe = DocumentPipeline(spark, docs).run_stage(
        tracker, "downloaded", max_pending_items=1000)
    assert tracker.pending(items, "downloaded").count() == 0
    assert pipe.df.count() == 40


def test_chunk_is_terminal_grain_change(spark, tables):
    pipe = DocumentPipeline(spark, tables["documents"].limit(20)).chunk(
        chunk_tokens=30, overlap=5)
    import pytest
    for op in ("dedup_exact", "quality_filter", "pii_scrub", "pack",
               "with_fingerprint", "chunk"):
        with pytest.raises(RuntimeError, match="grain"):
            getattr(pipe, op)()


def test_document_pipeline_pretraining_hygiene_chain(spark, tables):
    """The full pretraining-hygiene flow in one lazy plan: boilerplate
    strip -> decontaminate -> mixture sample -> shard layout."""
    docs = tables["documents"]
    eval_df = docs.limit(3).select("text")  # pretend benchmark set
    pipe = (
        DocumentPipeline(spark, docs)
        .strip_boilerplate(seg_tokens=8, min_df=2)
        .decontaminate(eval_df, n=5)
        .sample_mix({s[0]: 1.0 for s in
                     docs.select("source").distinct().collect()})
        .shards(num_shards=4)
    )
    out = pipe.df
    assert {"doc_id", "text", "shard", "pos"} <= set(out.columns)
    rows = out.collect()
    assert 0 < len(rows) < docs.count()  # decontamination dropped some
    assert {r["shard"] for r in rows} <= set(range(4))
    # grain guard still applies after the new stages
    import pytest as _pt
    with _pt.raises(RuntimeError):
        DocumentPipeline(spark, docs).chunk().strip_boilerplate()


def test_document_pipeline_substring_hygiene_stages(spark):
    """The winnowing-family facade stages: decontaminate_substring
    drops the literal lift and keeps the clean doc;
    drop_heavily_duplicated cuts the all-boilerplate doc, keeps the
    mostly-original one, and KEEPS too-short docs (NULL fraction is
    not evidence)."""
    run = " ".join(f"rel{i}" for i in range(30))
    corpus = spark.createDataFrame(
        [(100, "released " + run + " tail", "rel")],
        "doc_id long, text string, source string")
    batch = spark.createDataFrame(
        [(1, "stolen intro " + run + " outro", "crawl"),
         (2, " ".join(f"novel{i}" for i in range(40)), "crawl")],
        "doc_id long, text string, source string")
    out = (DocumentPipeline(spark, batch)
           .decontaminate_substring(corpus).df.collect())
    assert {r["doc_id"] for r in out} == {2}

    dup = " ".join(f"boiler{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, dup, "a"), (2, dup, "b"),
         (3, " ".join(f"own{i}" for i in range(60)), "c"),
         (4, "too short", "d")],
        "doc_id long, text string, source string")
    kept = {r["doc_id"] for r in DocumentPipeline(spark, docs)
            .drop_heavily_duplicated(max_shared_frac=0.8).df.collect()}
    assert kept == {3, 4}


def test_document_pipeline_release_cycle_chain(spark, tables):
    """The recurring-release flow: dedup a new batch against the
    released corpus, assign leakage-safe splits, enforce a per-source
    token budget, and read the quality data-card — one lazy plan per
    chain output."""
    docs = tables["documents"]
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1)

    p = (
        DocumentPipeline(spark, batch)
        .dedup_against(corpus, prefix_chars=40)
        .split(val_pct=20, prefix_chars=40)
        .token_budget(400)
    )
    out = p.df
    rows = out.collect()
    assert rows and set(out.columns) >= {"doc_id", "text", "source", "split"}
    # survivors are new relative to the corpus at the same content key
    from pyperustats_spark.operators.dedup import content_key
    corpus_keys = {r[0] for r in
                   corpus.select(content_key(40)).distinct().collect()}
    batch_keys = {r[0] for r in
                  spark.createDataFrame([(x["text"],) for x in rows],
                                        "text string")
                  .select(content_key(40)).collect()}
    assert not (batch_keys & corpus_keys)
    assert {r["split"] for r in rows} <= {"train", "val"}

    card = p.quality_report(cut=0.75)
    assert {"source", "n_docs", "mean_score", "n_below",
            "low_share"} <= set(card.columns)
    assert card.count() > 0
    # pipeline frame unchanged by the diagnostic side output
    assert p.df.count() == len(rows)

    zipf = p.zipf_report()
    assert {"lang", "n_types", "slope", "intercept", "r2"} \
        <= set(zipf.columns)
    zrows = zipf.collect()
    assert zrows and all(r["slope"] < 0 for r in zrows)
    assert p.df.count() == len(rows)
