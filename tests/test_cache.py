"""Incremental parquet cache: append-only upserts, latest-wins reads,
fetch planning, compaction."""

from pyperustats_spark.sources.cache import IncrementalParquetCache


def _rows(df):
    return sorted((r["code"], r["date"], r["value"]) for r in df.collect())


def test_cache_append_and_latest_wins(spark, tmp_path):
    cache = IncrementalParquetCache(spark, str(tmp_path / "c1"), keys=["code", "date"])
    assert cache.load() is None
    assert cache.cached_codes() == []

    b0 = cache.append(spark.createDataFrame(
        [("A", "2020-01-01", 1.0), ("A", "2020-01-02", 2.0), ("B", "2020-01-01", 9.0)],
        "code string, date string, value double"))
    assert b0 == 0
    # upsert: A/01-02 overwritten, C added, A/01-01 untouched
    b1 = cache.append(spark.createDataFrame(
        [("A", "2020-01-02", 20.0), ("C", "2020-01-01", 7.0)],
        "code string, date string, value double"))
    assert b1 == 1

    assert _rows(cache.load()) == [
        ("A", "2020-01-01", 1.0), ("A", "2020-01-02", 20.0),
        ("B", "2020-01-01", 9.0), ("C", "2020-01-01", 7.0)]


def test_cache_fetch_planning(spark, tmp_path):
    cache = IncrementalParquetCache(spark, str(tmp_path / "c2"), keys=["code", "date"])
    cache.append(spark.createDataFrame(
        [("A", "2020-01-01", 1.0), ("B", "2020-01-01", 2.0)],
        "code string, date string, value double"))
    assert cache.cached_codes() == ["A", "B"]
    assert cache.missing_codes(["A", "B", "C", "D"]) == ["C", "D"]


def test_cache_compact_preserves_view_and_resets_log(spark, tmp_path):
    cache = IncrementalParquetCache(spark, str(tmp_path / "c3"), keys=["code", "date"])
    for i in range(3):
        cache.append(spark.createDataFrame(
            [("A", "2020-01-01", float(i))], "code string, date string, value double"))
    before = _rows(cache.load())
    assert before == [("A", "2020-01-01", 2.0)]
    cache.compact()
    assert _rows(cache.load()) == before
    # log restarted: next increment is batch 1 on top of compacted 0
    assert cache.append(spark.createDataFrame(
        [("A", "2020-01-01", 99.0)], "code string, date string, value double")) == 1
    assert _rows(cache.load()) == [("A", "2020-01-01", 99.0)]


def test_cache_namespaces_isolate_frequencies(spark, tmp_path):
    from pyperustats_spark.sources.cache import window_namespace

    root = str(tmp_path / "c4")
    monthly = IncrementalParquetCache(
        spark, root, keys=["code", "date"],
        namespace=window_namespace("M", "2020-01-01", "2020-12-31"))
    daily = IncrementalParquetCache(
        spark, root, keys=["code", "date"],
        namespace=window_namespace("D", "2020-01-01", "2020-12-31"))

    monthly.append(spark.createDataFrame(
        [("AF", "2020-01", 1.0)], "code string, date string, value double"))
    daily.append(spark.createDataFrame(
        [("AF", "2020-01-15", 9.0), ("NO", "2020-01-16", 2.0)],
        "code string, date string, value double"))
    # upsert in ONE namespace must not disturb the other
    monthly.append(spark.createDataFrame(
        [("AF", "2020-01", 5.0)], "code string, date string, value double"))

    m = {(r["code"], r["date"]): r["value"] for r in monthly.load().collect()}
    d = {(r["code"], r["date"]): r["value"] for r in daily.load().collect()}
    assert m == {("AF", "2020-01"): 5.0}
    assert d == {("AF", "2020-01-15"): 9.0, ("NO", "2020-01-16"): 2.0}
    assert monthly.cached_codes() == ["AF"]
    assert daily.cached_codes() == ["AF", "NO"]


def test_cache_manifest_tracks_batches_and_survives_loss(spark, tmp_path):
    import os

    cache = IncrementalParquetCache(spark, str(tmp_path / "c5"),
                                    keys=["code", "date"])
    df = spark.createDataFrame(
        [("AF", "2020-01", 1.0)], "code string, date string, value double")
    assert cache.append(df) == 0
    assert cache.append(df) == 1
    # manifest is the O(1) source of truth
    with open(cache._manifest_path()) as f:
        assert f.read() == "1"
    # deleted manifest: next id rebuilt from the data, then rewritten
    os.remove(cache._manifest_path())
    assert cache.append(df) == 2
    with open(cache._manifest_path()) as f:
        assert f.read() == "2"


def test_cache_append_claims_id_before_writing_data(spark, tmp_path):
    """Manifest-before-data: a crash mid-append leaves a claimed-but-
    empty batch id, never data under an id a later append could reuse
    (which would make latest-wins ambiguous)."""
    cache = IncrementalParquetCache(spark, str(tmp_path / "c6"),
                                    keys=["code", "date"])
    good = spark.createDataFrame(
        [("AF", "2020-01", 1.0)], "code string, date string, value double")
    assert cache.append(good) == 0

    # an append whose WRITE fails (unwritable type error) must already
    # have claimed its id in the manifest
    from pyspark.sql import functions as F
    bad = good.withColumn(
        "value", F.udf(lambda v: (_ for _ in ()).throw(RuntimeError("boom")),
                       "double")("value"))
    try:
        cache.append(bad)
        assert False, "expected the doomed append to raise"
    except Exception:
        pass
    with open(cache._manifest_path()) as f:
        assert f.read() == "1"  # id 1 claimed by the failed append

    # next increment gets a FRESH id — never reuses the failed one
    assert cache.append(good) == 2
    # and the cache still resolves cleanly (failed batch contributed 0 rows)
    assert cache.load().count() == 1


def test_cached_codes_df_and_missing_codes_df(spark, tmp_path):
    cache = IncrementalParquetCache(spark, str(tmp_path / "c7"),
                                    keys=["code", "date"])
    req = spark.createDataFrame(
        [("AF",), ("NO",), ("ZZ",)], "code string")

    # empty cache: everything is missing, nothing is cached
    assert cache.cached_codes_df().count() == 0
    assert {r["code"] for r in cache.missing_codes_df(req).collect()} == \
        {"AF", "NO", "ZZ"}

    cache.append(spark.createDataFrame(
        [("AF", "2020-01", 1.0), ("NO", "2020-01", 2.0)],
        "code string, date string, value double"))
    assert {r["code"] for r in cache.cached_codes_df().collect()} == \
        {"AF", "NO"}
    missing = cache.missing_codes_df(req)
    assert {r["code"] for r in missing.collect()} == {"ZZ"}
    # agreement with the collecting variant on a bounded domain
    assert cache.missing_codes(["AF", "NO", "ZZ"]) == ["ZZ"]

    import pyperustats_spark.plans as P
    # cached side grows with the cache — the anti-join stays unhinted
    assert not P.has_broadcast_hint(missing)


def _jobs_launched(spark, fn, group):
    """Spark jobs *fn* launches, counted under a fresh job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_cache_schema_sidecar_skips_inference_and_falls_back(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    cache = IncrementalParquetCache(spark, str(tmp_path / "c8"),
                                    keys=["code", "date"])
    df = spark.createDataFrame(
        [("AF", "2020-01", 1.0), ("NO", "2020-01", 2.0)],
        "code string, date string, value double")
    cache.append(df)
    cache.append(df.withColumn("value", F.col("value") * 10))
    with open(cache._manifest_path()) as f:
        assert f.read() == "1"  # the manifest stays a bare integer
    want = _rows(cache.load())

    # the sidecar names the schema: building the view runs no job
    assert _jobs_launched(spark, cache.load, "c8-sidecar") == 0
    assert cache.load().schema == spark.read.parquet(cache.path) \
        .drop("_batch_id").schema

    # a cache without it (written before the sidecar existed) infers
    os.remove(cache._schema_path())
    assert _jobs_launched(spark, cache.load, "c8-inferred") > 0
    assert _rows(cache.load()) == want
    # ... and its next append writes the sidecar again
    cache.append(df)
    assert os.path.exists(cache._schema_path())
    with open(cache._manifest_path()) as f:
        assert f.read() == "2"
    assert _rows(cache.load()) == _rows(df)

    # compaction lands a sidecar with its new generation
    cache.compact()
    assert _jobs_launched(spark, cache.load, "c8-compacted") == 0
    assert _rows(cache.load()) == _rows(df)

    # an increment with a different schema retires the sidecar
    cache.append(df.withColumn("note", F.lit("x")))
    assert not os.path.exists(cache._schema_path())
    assert cache.cached_codes() == ["AF", "NO"]
    # ... and none comes back while the files' schemas still differ
    cache.append(df)
    assert not os.path.exists(cache._schema_path())


def test_cache_corrupt_namespace_raises_instead_of_reading_empty(
        spark, tmp_path):
    import pytest

    cache = IncrementalParquetCache(spark, str(tmp_path / "c9"),
                                    keys=["code", "date"])
    assert cache.cached_codes() == []  # no data file: empty, no error
    with open(f"{cache.path}/part-00000-garbage.parquet", "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception):
        cache.cached_codes()
