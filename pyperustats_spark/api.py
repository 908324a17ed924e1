"""User-facing facade mirroring the reference's two primary APIs.

* :class:`SeriesClient` ≈ ``BCRPDataSeries.fetch_data`` (fetcher.py:47-107):
  validate codes against the catalogue → plan the fetch against the
  cache → pull only missing series from the source → resample to the
  requested frequency → persist increment → return the wide
  one-column-per-code frame sorted by date.
* :class:`DocumentPipeline` ≈ ``INEIFetcher.fetch_modules().download()
  .organize()`` (inei/fetcher.py:106-252): a chained pipeline whose
  steps are lazy DataFrame transforms; nothing executes until the
  caller materializes (the chain builds ONE logical plan Catalyst
  optimizes end-to-end — chaining never costs extra passes).

A user of the reference switches by swapping pandas frames for the
returned (lazy) Spark DataFrames; method names and flow match.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyperustats_spark.operators import dedup as _dedup
from pyperustats_spark.operators import textops as _textops
from pyperustats_spark.operators import timeseries as _ts
from pyperustats_spark.sources.cache import (
    IncrementalParquetCache,
    window_namespace,
)

# the reference's canonical frequency indicators — a code's LAST letter
# names its frequency (``FREQ_WEB_MAP``, BCRP/models.py:152-160)
FREQ_SUFFIXES = ("D", "M", "Q", "A")


def plan_by_frequency(codes: list[str]) -> dict[str, list[str]]:
    """Group a mixed code list by frequency suffix.

    Mirrors ``BCRPSeries.__post_init__`` (BCRP/models.py:152-170):
    codes are uppercased, bucketed by their last letter when it is a
    known frequency indicator, and codes with no frequency suffix are
    dropped from the plan (the reference's ``if freq in FREQ_WEB_MAP
    .values()`` guard). Raises on an empty code list, like the
    reference (models.py:171-172). Order within a bucket is preserved
    (first occurrence wins for duplicates)."""
    if not codes:
        raise ValueError("codes list must not be empty.")
    out: dict[str, list[str]] = {}
    for code in codes:
        c = code.upper()
        f = c[-1] if c else ""
        if f in FREQ_SUFFIXES and c not in out.setdefault(f, []):
            out[f].append(c)
    return {f: cs for f, cs in out.items() if cs}


class SeriesClient:
    """Fetch-with-cache for observation series (BCRP semantics).

    *source_long* stands in for the HTTP API: a long (date, code, value)
    DataFrame the client "fetches" from. At 100 TB it is the raw
    observation lake; the cache holds the resampled/cleaned series.
    Caches are namespaced per (frequency, date window) under one root —
    the reference keys one SQLite table per fetch window
    (``_table_name``, BCRP/cache.py:34-43), so daily and monthly
    series never collide."""

    def __init__(self, spark: SparkSession, source_long: DataFrame, cache_path: str):
        self.spark = spark
        self.source_long = source_long
        self.cache_path = cache_path

    def cache_for(self, freq: str, start_date: str | None = None,
                  end_date: str | None = None) -> IncrementalParquetCache:
        """The per-(frequency, window) cache namespace."""
        return IncrementalParquetCache(
            self.spark, self.cache_path, keys=["date", "code"],
            namespace=window_namespace(freq, start_date, end_date))

    def validate_codes(self, codes: list[str]) -> tuple[list[str], list[str]]:
        """Split requested codes into known/unknown against the source
        catalogue (reference `validate_codes`, metadata.py:252-306)."""
        known_rows = (
            self.source_long.select("code").distinct()
            .where(F.col("code").isin(codes)).collect()
        )
        known = sorted(r["code"] for r in known_rows)
        unknown = sorted(set(codes) - set(known))
        return known, unknown

    def _window_source(self, start_date: str | None,
                       end_date: str | None) -> DataFrame:
        src = self.source_long
        if start_date is not None:
            src = src.where(
                F.col("date") >= F.lit(start_date).cast("timestamp"))
        if end_date is not None:
            src = src.where(
                F.col("date") <= F.lit(end_date).cast("timestamp"))
        return src

    def _cached_long(self, known: list[str], freq: str,
                     start_date: str | None,
                     end_date: str | None) -> DataFrame | None:
        """The per-frequency cache plan for already-validated *known*
        codes: append the ones missing from the (freq, window) namespace,
        resampled from the source, then return the namespace's long
        (date, code, value) view filtered to *known*. None when *known*
        is empty — such a group neither reads nor writes its namespace."""
        if not known:
            return None
        cache = self.cache_for(freq, start_date, end_date)
        missing = cache.missing_codes(known)
        if missing:
            src = self._window_source(start_date, end_date)
            fresh = (
                _ts.resample(src.where(F.col("code").isin(missing)), freq,
                             sort=False)
                .select(F.col("period").alias("date"), "code",
                        F.col("value_sum").alias("value"))
            )
            cache.append(fresh)
        return cache.load().where(F.col("code").isin(known))

    def _empty_wide(self) -> DataFrame:
        # the date-only frame a pivot over zero codes yields
        return self.spark.createDataFrame([], "date timestamp")

    def fetch(self, codes: list[str], freq: str = "M",
              start_date: str | None = None,
              end_date: str | None = None, sort: bool = True) -> DataFrame:
        """Wide one-column-per-code frame at *freq*, served from the
        (freq, window) cache namespace; only codes missing from that
        namespace touch the source (reference fetch_data flow,
        fetcher.py:47-107: ``cached_codes(freq, start, end)`` →
        fetch-only-new → save → load). Unknown codes are dropped; with
        none known the result is an empty date-only frame. ``sort=False``
        when composing — the presentation date sort would be thrown
        away by any downstream join/shuffle."""
        known, _unknown = self.validate_codes(codes)
        long_df = self._cached_long(known, freq, start_date, end_date)
        if long_df is None:
            return self._empty_wide()
        return _ts.pivot_wide(long_df, codes=tuple(known), sort=sort)

    def fetch_multi(self, codes: list[str],
                    start_date: str | None = None,
                    end_date: str | None = None) -> DataFrame:
        """One call for a MIXED-frequency code list.

        Mirrors ``BCRPSeries.__post_init__`` + ``fetch_data``
        (models.py:152-170, fetcher.py:47-107): the codes are grouped
        by frequency suffix, each group runs the full per-frequency
        cache plan in its own (freq, window) namespace, and the
        per-frequency frames come back aligned on ``date`` with FULL
        OUTER semantics (a month-end row carries the monthly values
        with NULL daily columns — the reference's outer-merge of new
        columns, cache.py:140-169). Columns: ``date``, then frequencies
        in sorted order, known codes sorted within each; unknown codes
        are dropped.

        Scale: the catalogue is checked ONCE for every grouped code (one
        distinct over the source, not one per frequency). The groups'
        long (date, code, value) views are unioned and pivoted ONCE:
        codes never repeat across groups, so the pivot's per-code sum
        equals each group's own pivot, and its date groups are the
        union of every group's dates — the full-outer alignment with no
        join chain (one window exchange per group plus the pivot's
        two)."""
        groups = plan_by_frequency(codes)
        if not groups:
            raise ValueError(
                f"no code carries a frequency suffix {FREQ_SUFFIXES}; "
                "pass e.g. 'PN01288PM' (M = monthly)")
        known, _unknown = self.validate_codes(
            [c for cs in groups.values() for c in cs])
        longs, columns = [], []
        for f in sorted(groups):
            group_known = [c for c in known if c in groups[f]]
            long_df = self._cached_long(group_known, f, start_date, end_date)
            if long_df is not None:
                longs.append(long_df)
                columns.extend(group_known)
        if not longs:
            return self._empty_wide()
        return _ts.pivot_wide(reduce(DataFrame.unionByName, longs),
                              codes=tuple(columns))


class DocumentPipeline:
    """Chained document-corpus pipeline (INEIFetcher chaining style).

    Every step returns ``self`` with a refined LAZY DataFrame — the full
    chain is one Catalyst plan. ``df`` exposes the current frame;
    ``write_cache`` lands it as a cache increment."""

    def __init__(self, spark: SparkSession, documents: DataFrame):
        self.spark = spark
        self._df = documents
        self._grain = "document"

    def _require_document_grain(self, op: str) -> None:
        # after chunk() the frame is keyed (doc_id, chunk_id): doc_id
        # is no longer unique, so a doc_id join would fan out rows and
        # the text column no longer exists — fail loudly, not weirdly
        if self._grain != "document":
            raise RuntimeError(
                f"{op}() operates on document grain but the pipeline is "
                f"at {self._grain} grain (chunk() was called); run "
                f"{op}() before chunk(), or start a new pipeline")

    @property
    def df(self) -> DataFrame:
        return self._df

    def dedup_exact(self) -> "DocumentPipeline":
        self._require_document_grain("dedup_exact")
        keep = _dedup.dedup_exact_normalized(
            self._df, sort=False).select("doc_id")
        self._df = self._df.join(keep, "doc_id", "left_semi")
        return self

    def quality_filter(self, min_score: float = 0.5) -> "DocumentPipeline":
        self._require_document_grain("quality_filter")
        # row-local score via explode-of-conditional-array: one scan,
        # one evaluation (a where() on the score column gets the
        # expression substituted into the predicate = 2x eval; a
        # score-frame self-join re-executes the pipeline's upstream —
        # the single-reference rule, see incremental_release and
        # textops.quality_filter)
        from pyperustats_spark.functions.text import let as _let

        keep = _let(
            _textops.quality_score_col(F.col("text")),
            lambda qs: F.when(qs >= min_score, F.array(qs))
            .otherwise(F.array().cast("array<double>")),
        )
        self._df = (
            self._df.withColumn("_qs", F.explode(keep))
            .drop("_qs")
        )
        return self

    def lang_filter(self, langs: list[str]) -> "DocumentPipeline":
        self._require_document_grain("lang_filter")
        pred = _textops.lang_id(self._df, sort=False).select(
            "doc_id", "lang_pred")
        self._df = (
            self._df.join(pred, "doc_id")
            .where(F.col("lang_pred").isin(langs))
            .drop("lang_pred")
        )
        return self

    def dedup_fuzzy(self, threshold: float = 0.15) -> "DocumentPipeline":
        """Drop non-canonical near-dup cluster members (n-gram Jaccard
        pairs → connected components; each cluster's min doc_id
        survives)."""
        self._require_document_grain("dedup_fuzzy")
        self._df = _dedup.dedup_filter(self._df, threshold=threshold, sort=False)
        return self

    def pii_scrub(self) -> "DocumentPipeline":
        self._require_document_grain("pii_scrub")
        scrubbed = _textops.pii_scrub(self._df, sort=False).select(
            "doc_id", "text_scrubbed")
        self._df = (
            self._df.join(scrubbed, "doc_id")
            .drop("text")
            .withColumnRenamed("text_scrubbed", "text")
        )
        return self

    def chunk(self, chunk_tokens: int = 50, overlap: int = 10) -> "DocumentPipeline":
        """Re-shape the corpus into overlapping token-window chunks:
        the frame's grain changes to (doc_id, chunk_id), so it is a
        TERMINAL transform — document-grain steps afterwards raise
        (their doc_id joins would silently fan out across chunks)."""
        self._require_document_grain("chunk")
        self._df = _textops.chunk_windows(
            self._df, chunk_tokens=chunk_tokens, overlap=overlap, sort=False)
        self._grain = "chunk"
        return self

    def pack(self, budget: int = 256) -> "DocumentPipeline":
        """Assign each document its context-window span under
        concat-and-split packing (adds start_offset/bin columns)."""
        self._require_document_grain("pack")
        packed = _textops.pack_sequences(self._df, budget=budget,
                                         sort=False).select(
            "doc_id", "start_offset", "bin_start", "bin_end")
        self._df = self._df.join(packed, "doc_id")
        return self

    def with_fingerprint(self) -> "DocumentPipeline":
        self._require_document_grain("with_fingerprint")
        fp = _textops.fingerprint(self._df, sort=False)
        self._df = self._df.join(fp, "doc_id")
        return self

    def strip_boilerplate(self, seg_tokens: int = 8,
                          min_df: int = 2) -> "DocumentPipeline":
        """Rewrite ``text`` with cross-corpus repeated segments removed
        (:func:`~pyperustats_spark.operators.textops.boilerplate_apply`)."""
        self._require_document_grain("strip_boilerplate")
        cleaned = _textops.boilerplate_apply(
            self._df, seg_tokens=seg_tokens, min_df=min_df, sort=False)
        self._df = (
            self._df.join(cleaned, "doc_id")
            .drop("text")
            .withColumnRenamed("text_clean", "text")
        )
        return self

    def decontaminate(self, eval_df: DataFrame, n: int = 5,
                      text_col: str = "text") -> "DocumentPipeline":
        """Drop documents sharing an exact word n-gram with the eval/
        benchmark set (:func:`~pyperustats_spark.operators.textops.decontaminate`)."""
        self._require_document_grain("decontaminate")
        self._df = _textops.decontaminate(
            self._df, eval_df, n=n, text_col=text_col, sort=False)
        return self

    def sample_mix(self, fractions: dict[str, float],
                   salt: str = "mix") -> "DocumentPipeline":
        """Downsample each source to its target mixture weight
        (:func:`~pyperustats_spark.operators.textops.sample_source_mix`)."""
        self._require_document_grain("sample_mix")
        self._df = _textops.sample_source_mix(
            self._df, fractions, salt=salt, sort=False)
        return self

    def shards(self, num_shards: int = 8,
               salt: str = "epoch0") -> "DocumentPipeline":
        """Assign each doc its deterministic epoch shard + in-shard
        position (:func:`~pyperustats_spark.operators.relational.epoch_shards`)
        — the step right before ``write.partitionBy('shard')``."""
        self._require_document_grain("shards")
        from pyperustats_spark.operators import relational as _rel
        self._df = _rel.epoch_shards(self._df, "doc_id",
                                     num_shards=num_shards, salt=salt,
                                     sort=False)
        return self

    def dedup_against(self, corpus: DataFrame,
                      prefix_chars: int | None = None) -> "DocumentPipeline":
        """Incremental-release step: drop documents whose content key
        already exists in *corpus* (the previously-released snapshot)
        or is a within-batch duplicate
        (:func:`~pyperustats_spark.operators.dedup.dedup_incremental`).
        Only 16-byte keys shuffle; the corpus is never re-deduped."""
        self._require_document_grain("dedup_against")
        keep = _dedup.dedup_incremental(
            self._df, corpus, prefix_chars=prefix_chars,
            sort=False).select("doc_id")
        self._df = self._df.join(keep, "doc_id", "left_semi")
        return self

    def decontaminate_substring(self, corpus: DataFrame,
                                n_tokens: int = 20, winnow: int = 5,
                                min_shared: int = 1
                                ) -> "DocumentPipeline":
        """Drop documents sharing ≥ *min_shared* winnowed fingerprints
        with *corpus* — long-verbatim-lift decontamination against a
        released snapshot or benchmark set (:func:`~pyperustats_spark
        .operators.dedup.exact_substring_decontaminate`); the n-gram
        :meth:`decontaminate` twin for runs the token-level check
        under-weighs."""
        self._require_document_grain("decontaminate_substring")
        keep = _dedup.exact_substring_decontaminate(
            self._df, corpus, n_tokens=n_tokens, winnow=winnow,
            min_shared=min_shared, sort=False).select("doc_id")
        self._df = self._df.join(keep, "doc_id", "left_semi")
        return self

    def drop_heavily_duplicated(self, max_shared_frac: float = 0.8,
                                n_tokens: int = 20, winnow: int = 5
                                ) -> "DocumentPipeline":
        """Drop documents whose literal-duplication profile exceeds
        *max_shared_frac* (:func:`~pyperustats_spark.operators.dedup
        .substring_duplication_profile`) — the doc-level boilerplate/
        syndication cut pairwise dedup can't make when no single
        partner crosses the pair threshold. Docs too short to
        fingerprint have a NULL fraction and are KEPT (no evidence is
        not contamination)."""
        self._require_document_grain("drop_heavily_duplicated")
        prof = _dedup.substring_duplication_profile(
            self._df, n_tokens=n_tokens, winnow=winnow, sort=False)
        drop = prof.where(
            F.col("shared_frac") > max_shared_frac).select("doc_id")
        self._df = self._df.join(drop, "doc_id", "left_anti")
        return self

    def split(self, val_pct: int = 10,
              prefix_chars: int | None = None,
              salt: str = "split") -> "DocumentPipeline":
        """Leakage-safe train/val assignment: every member of a
        content-key group inherits the group representative's
        hash-cut split, so near-dups never straddle the boundary
        (:func:`~pyperustats_spark.operators.dedup.split_leakage_safe`).
        Adds a ``split`` column."""
        self._require_document_grain("split")
        assigned = _dedup.split_leakage_safe(
            self._df, val_pct=val_pct, prefix_chars=prefix_chars,
            salt=salt, sort=False).select("doc_id", "split")
        self._df = self._df.join(assigned, "doc_id")
        return self

    def token_budget(self, budget: int,
                     salt: str = "budget") -> "DocumentPipeline":
        """Materialize a per-source token budget: keep documents along
        the salted-hash walk while each source's cumulative token
        count stays within *budget*
        (:func:`~pyperustats_spark.operators.textops.token_budget_sample`)."""
        self._require_document_grain("token_budget")
        keep = _textops.token_budget_sample(
            self._df, budget=budget, salt=salt, sort=False).select("doc_id")
        self._df = self._df.join(keep, "doc_id", "left_semi")
        return self

    def quality_report(self, cut: float = 0.75) -> DataFrame:
        """Per-source quality data-card for the CURRENT pipeline state
        (:func:`~pyperustats_spark.operators.textops.quality_by_source`)
        — a diagnostic side output, does not advance the chain."""
        self._require_document_grain("quality_report")
        return _textops.quality_by_source(self._df, cut=cut, sort=False)

    def zipf_report(self) -> DataFrame:
        """Per-language Zipf fit for the CURRENT pipeline state
        (:func:`~pyperustats_spark.operators.textops.zipf_fit`) — a
        corpus-health diagnostic (slope drift from ≈ −1 flags template
        floods or over-dedup); side output, does not advance the
        chain."""
        self._require_document_grain("zipf_report")
        return _textops.zipf_fit(self._df, sort=False)

    def run_stage(self, tracker, stage: str, transform=None,
                  max_pending_items: int = 100_000) -> "DocumentPipeline":
        """Resume-aware stage execution (INEIFetcher tri-state chaining,
        ``inei/fetcher.py:170-252``): apply *transform* ONLY to the
        documents of items whose next pending stage is *stage*, leave
        already-processed items untouched, and flip their flag.

        *tracker* is a :class:`~pyperustats_spark.sources.progress.
        StageProgressTracker` whose keys are columns of this corpus
        (e.g. a module column). Re-running the same stage is a no-op —
        the pending set is empty, so nothing is re-transformed (the
        reference's restart-without-refetch behavior). The flag flips
        when this method runs, mirroring the reference's mark-as-you-go
        loop; callers needing mark-after-materialize call
        ``tracker.mark`` themselves after an action.

        The pending ITEM set is snapshotted to the driver before use:
        it is metadata-cardinality (survey modules — the reference holds
        the whole table in one SQLite file), and a lazy pending plan
        would silently re-evaluate against the post-``mark`` flag state
        when the returned frame finally materializes. Documents
        themselves never leave the cluster. *max_pending_items* bounds
        that snapshot: a tracker keyed at DOCUMENT grain (doc_id) would
        otherwise pull a corpus-scale key set to the driver — the guard
        raises before collecting more than the bound (the probe fetches
        at most bound+1 rows, never the full set). Raise the bound only
        for keys you know are metadata-cardinality."""
        if max_pending_items < 1:
            raise ValueError("max_pending_items must be >= 1")
        items = self._df.select(*tracker.keys).distinct()
        pend = tracker.pending(items, stage)
        # O(min(items, bound+1)) metadata snapshot, see docstring
        rows = pend.limit(max_pending_items + 1).collect()
        if len(rows) > max_pending_items:
            raise ValueError(
                f"run_stage pending set exceeds max_pending_items="
                f"{max_pending_items}: tracker keys {tracker.keys} look "
                "document-grain, not module-grain — a driver snapshot "
                "of every pending key would not fit. Track progress at "
                "a coarser grain (module/partition), or raise "
                "max_pending_items if this cardinality is intended.")
        if rows:
            stable = self.spark.createDataFrame(rows, pend.schema)
            if transform is not None:
                todo = self._df.join(stable, tracker.keys, "left_semi")
                rest = self._df.join(stable, tracker.keys, "left_anti")
                self._df = transform(todo).unionByName(rest)
            tracker.mark(stage, stable)
        return self

    def write_cache(self, cache_path: str) -> IncrementalParquetCache:
        cache = IncrementalParquetCache(
            self.spark, cache_path, keys=["doc_id"])
        cache.append(self._df)
        return cache


def incremental_release(batch: DataFrame, corpus: DataFrame | None,
                        eval_df: DataFrame, val_pct: int = 10,
                        min_score: float = 0.75, ngram_n: int = 5,
                        prefix_chars: int | None = None,
                        sort: bool = True,
                        corpus_keys: DataFrame | None = None) -> DataFrame:
    """The full recurring-release chain as ONE lazy Catalyst plan —
    the dress-rehearsal composition a pretraining corpus runs per
    crawl batch (the reference's fetch→download→organize chaining,
    inei/fetcher.py:106-252, at corpus scale):

        dedup_incremental → quality_filter → decontaminate →
        split_leakage_safe

    Returns (doc_id, source, lang, quality_score, split) for the rows
    of *batch* that survive into the release; feed the result to
    :func:`~pyperustats_spark.sources.exporter.export_shards` to land
    training shards.

    Scale shape — every stage references its upstream exactly ONCE.
    The naive composition (filter-set semi-joins back onto the frame
    they came from, the operator-at-a-time style) re-references each
    stage's output 2-3×, and Catalyst does NOT dedupe common subplans:
    measured 66 executed exchanges with zero ReusedExchange — the
    whole dedup ran five times. Instead:

    * incremental dedup: anti-join 16-byte content keys (yesterday's
      corpus never re-deduped), then the within-batch keep is a
      row_number window over the SAME key partitioning — no
      keep-set-join-back, and Catalyst elides the window's exchange;
    * quality cut: :func:`textops.quality_score_col` as a row-local
      predicate in place (no score-frame self-join);
    * decontamination: contaminated doc_ids derive from the RAW batch
      scan (a column-pruned second scan, not a re-execution of the
      dedup subtree) — flagging an id the dedup already dropped is a
      no-op in the anti-join, so semantics are unchanged; eval grams
      broadcast-semi-join as in contamination_flags;
    * leakage-safe split: the content key is already a column and the
      dedup window already partitioned by it, so the group
      representative costs no new exchange (post-dedup each key is
      unique, making rep_id = doc_id — the split can never straddle a
      content group by construction).

    Net: 7 executed exchanges at any scale (plan-asserted in
    tests/test_plans.py), zero interior global sorts, zero Python.

    Pass *corpus_keys* — a pre-distinct (fp) frame, e.g.
    ``CorpusLedger.seen_keys()`` — instead of *corpus* to skip the
    released corpus' text scan AND its distinct shuffle entirely: the
    anti-join then zips ledger buckets with zero corpus-side exchange
    (row-for-row equal, pinned in tests/test_ledger.py)."""
    if (corpus is None) == (corpus_keys is None):
        raise ValueError("pass exactly one of corpus / corpus_keys")
    key = _dedup.content_key(prefix_chars)
    from pyspark.sql import Window

    seen = (corpus_keys.select(F.col(corpus_keys.columns[0]).alias("_fp"))
            if corpus_keys is not None
            else corpus.select(key.alias("_fp")).distinct())
    b = batch.withColumn("_fp", key)
    fresh = b.join(seen, "_fp", "left_anti")
    w = Window.partitionBy("_fp").orderBy("doc_id")
    df = (
        fresh.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .withColumn("rep_id", F.min("doc_id").over(Window.partitionBy("_fp")))
        .drop("_rn")
    )
    # explode-of-conditional-array: score evaluated ONCE per row, and
    # the generator drops failing rows in the same pass (a where() on
    # the score column gets the expression substituted back into the
    # predicate — 2x evaluation; see textops.quality_filter)
    from pyperustats_spark.functions.text import let as _let

    _keep = _let(
        _textops.quality_score_col(F.col("text")),
        lambda qs: F.when(qs >= min_score, F.array(qs))
        .otherwise(F.array().cast("array<double>")),
    )
    df = df.withColumn("quality_score", F.explode(_keep))
    from pyperustats_spark.functions.text import word_ngrams

    doc_grams = batch.select(
        "doc_id",
        F.explode(F.array_distinct(
            word_ngrams(F.col("text"), ngram_n))).alias("gram"),
    )
    eval_grams = eval_df.select(
        F.explode(F.array_distinct(
            word_ngrams(F.col("text"), ngram_n))).alias("gram")
    ).distinct()
    contaminated = (
        doc_grams.join(eval_grams, "gram", "left_semi")
        .select("doc_id").distinct()
    )
    df = df.join(contaminated, "doc_id", "left_anti")
    bucket = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit("split"),
                                      F.col("rep_id").cast("string"))),
                    1, 4), 16, 10).cast("int") % 100
    out = df.select(
        "doc_id", "source", "lang", "quality_score",
        F.when(bucket < val_pct, F.lit("val"))
        .otherwise(F.lit("train")).alias("split"),
    )
    return out.orderBy("doc_id") if sort else out
