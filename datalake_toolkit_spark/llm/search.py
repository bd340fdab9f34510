"""Lexical retrieval over the documents table: posting lists,
exact-arithmetic keyword ranking, and BM25 top-k.

The missing search modality next to the embedding plane
(``llm.similarity`` / ``llm.ann_index``): corpus exploration,
benchmark decontamination lookups, and boolean/coordination filtering
all want term-level retrieval, not vectors.

Tokenization follows the package convention (whitespace split, no
case folding — callers normalize upstream if they need to), so search
terms line up with ``word_shingles`` / ``dup_ngram_stats`` and the
DuckDB oracles replicate it with ``string_split_regex``.

Scale shape: a query batch broadcasts its DISTINCT terms and the
exploded corpus tokens are semi-filtered against them BEFORE any
aggregation — the tf group-by runs over matching tokens only, and the
corpus is never shuffled in full per query (the full inverted index
is only materialized by :func:`posting_lists` when a caller asks for
it). Scores that sum floating point do so over VALUE-SORTED folds for
run-to-run determinism.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from datalake_toolkit_spark.lakehouse.table import (
    _parse_conjuncts,
    live_partition_keys,
    resolve_pin,
)


def _tokens(text_col: str) -> Column:
    # split('') yields [''] and leading whitespace yields a leading ''
    # — drop empty tokens so dl counts words, not artifacts (the
    # oracle mirrors with list_filter(..., t -> t <> ''))
    return F.filter(
        F.split(F.col(text_col), r"\s+"), lambda t: t != F.lit("")
    )


def _doc_tokens(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, dl, term) — one row per token occurrence; empty
    documents contribute nothing."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"), _tokens(text_col).alias("w")
        )
        .where(F.size("w") > 0)
        .select(
            "doc_id", F.size("w").alias("dl"), F.explode("w").alias("term")
        )
    )


def _query_terms(
    queries: DataFrame, query_id_col: str, query_text_col: str
) -> DataFrame:
    """(query_id, term) — distinct terms per query."""
    return queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(F.array_distinct(_tokens(query_text_col))).alias("term"),
    ).distinct()


def _apply_pair_filter(
    ranked: DataFrame, pair_filter: DataFrame | None
) -> DataFrame:
    """Per-query filtered retrieval: keep only (query_id, doc_id)
    pairs present in the allow frame (first column = query id, second
    = doc id — tenant/language/date selections that differ per query).
    Broadcast semi-join, so it is meant for serving-bounded allow
    sets; corpus-scale restrictions belong upstream of the index.
    Callers apply it BEFORE their top-k window, so ranks are computed
    within each query's allowed set; per-(query, doc) scores don't
    depend on other candidates, so filtering commutes with scoring."""
    if pair_filter is None:
        return ranked
    allow = pair_filter.select(
        F.col(pair_filter.columns[0]).alias("query_id"),
        F.col(pair_filter.columns[1]).alias("doc_id"),
    ).distinct()
    return ranked.join(F.broadcast(allow), ["query_id", "doc_id"], "left_semi")


def posting_lists(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(term, doc_id, tf, dl): the full inverted index — one row per
    distinct term per document, with term frequency and the document's
    token count. The rankers below do NOT materialize this (they
    aggregate only query-matched tokens); it exists for callers
    persisting an index or computing corpus-level term stats."""
    return (
        _doc_tokens(docs, id_col, text_col)
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select("term", "doc_id", "tf", "dl")
    )


def _matched_postings(
    docs: DataFrame,
    qterms: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(term, doc_id, tf, dl) restricted to terms some query uses —
    the broadcast term filter lands BELOW the tf aggregation, so the
    group-by processes only matching token occurrences (at 100 TB the
    difference between 'aggregate the corpus vocabulary' and
    'aggregate the query's needles')."""
    terms = qterms.select("term").distinct()
    return (
        _doc_tokens(docs, id_col, text_col)
        .join(F.broadcast(terms), "term", "left_semi")
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def keyword_search_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
) -> DataFrame:
    """Exact coordination-level ranking: per (query, document) count
    the DISTINCT query terms the document contains (``n_matched``) and
    their total term frequency (``sum_tf``); rank by
    (n_matched DESC, sum_tf DESC, doc_id ASC) and keep the top k.

    Boolean-retrieval scoring — integer arithmetic end to end, so the
    ranking is bit-exact across engines (the DuckDB-oracled layer;
    :func:`bm25_topk` adds the floating-point relevance refinement on
    the same machinery)."""
    qterms = _query_terms(queries, query_id_col, query_text_col)
    matched = (
        _matched_postings(docs, qterms, id_col, text_col)
        .join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_matched"),
            F.sum("tf").alias("sum_tf"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_matched"), F.desc("sum_tf"), F.asc("doc_id")
    )
    return (
        matched.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "n_matched", "sum_tf", "rank")
    )


def _bm25_idf() -> Column:
    """Lucene's idf over in-scope ``df`` / ``n_docs`` columns. One
    shared expression tree for the exact and max-score-pruned serve
    paths: bit-identical floats require operation-identical plans."""
    return F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )


def _bm25_w(tf: Column, dl: Column, k1: float, b: float) -> Column:
    """Per-term BM25 weight from an in-scope ``idf``/``avgdl`` and the
    given tf/dl columns. Monotone increasing in tf and decreasing in
    dl (real arithmetic), which is what makes evaluating it at
    (max_tf, min_dl) a per-term upper bound for the pruned path."""
    return (
        F.col("idf")
        * (tf * F.lit(k1 + 1.0))
        / (
            tf
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * dl / F.col("avgdl"))
        )
    )


def _bm25_fold() -> Column:
    """Sum the in-scope per-term weights ``w`` VALUE-SORTED, so
    repeated runs (and the pruned vs exact plans) fold the same floats
    in the same order — run-to-run and path-to-path bit equality."""
    return F.aggregate(
        F.array_sort(F.collect_list("w")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
) -> DataFrame:
    """BM25 top-k per query: (query_id, doc_id, score, rank) with the
    Lucene formulation — idf = ln(1 + (N - df + 0.5) / (df + 0.5)),
    per-term weight idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl
    / avgdl)) — summed over the query's distinct matched terms.

    N and avgdl come from one corpus-level aggregate (a one-row frame
    cross-joined back in, not a driver constant — the plan stays one
    lazy tree); df is counted per QUERY term from the matched
    postings, never over the full vocabulary. The per-document sum
    folds VALUE-SORTED per-term scores so repeated runs are
    bit-identical; cross-ENGINE bit equality is not promised (``ln``
    is not correctly-rounded IEEE and measurably differs between libm
    and the JVM), which is why the gate-level oracle pins
    :func:`keyword_search_topk`'s integer layer and this ranker is
    pinned by tolerance-based tests instead — SCALING.md "Lexical
    retrieval" documents the measured 11/200 ULP divergence behind
    that split."""
    qterms = _query_terms(queries, query_id_col, query_text_col)
    post = _matched_postings(docs, qterms, id_col, text_col)
    # N / avgdl over DOCUMENTS (pre-explode token counts; one narrow
    # corpus aggregate, no vocabulary group-by)
    stats = (
        docs.select(_tokens(text_col).alias("w"))
        .where(F.size("w") > 0)
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum(F.size("w")) / F.count(F.lit(1))).alias("avgdl"),
        )
    )
    # df per query term: matched postings already hold one row per
    # (term, containing doc) — small by construction
    df_t = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        post.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    agg = scored.groupBy("query_id", "doc_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list("w")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


class PostingsIndex:
    """A persistent inverted index: the serving twin of the batch
    rankers above, mirroring :class:`~datalake_toolkit_spark.llm.
    ann_index.IVFIndex`'s lifecycle for the lexical modality.

    Two LakeTables under ``path``:

    - ``postings`` — (term, doc_id, tf, dl, term_prefix), partitioned
      by ``term_prefix`` (first 2 hex chars of md5(term): 256 uniform
      buckets). ALL postings of a term live in one bucket, so a query
      batch reads only its terms' buckets — structural pruning, and
      per-term document frequencies are complete within the probed
      read.
    - ``doc_stats`` — (doc_id, dl, dhash_prefix), same 256-bucket
      layout on the doc id; the per-document ground truth behind the
      corpus stats (and the rebuild source for them).
    - ``corpus_stats`` — (dhash_prefix, n_docs, total_dl), ONE row per
      doc_stats bucket (<= 256 rows total), refreshed at ``add`` time
      for exactly the buckets the batch touched. BM25's N / avgdl are
      served by summing these rows — an O(1) read, never an O(corpus)
      doc_stats scan in the query hot path. Refreshing a bucket is a
      pure function of the committed doc_stats state, so replaying a
      crashed batch converges to the same stats (idempotent like the
      other two commits).

    ``add`` batches land as merge-on-read upserts with
    ``partition_scoped=True`` (both partition keys are pure functions
    of the merge keys), so commits are O(batch) and touch only the
    batch's buckets; replaying a crashed batch is idempotent (upserts
    on (term, doc_id) / (doc_id)). The default corpus contract is
    APPEND-ONLY-by-content: a plain re-add of a doc_id updates the
    (term, doc_id) pairs it still shares and the dl everywhere, but
    postings for terms the new text DROPPED survive, exactly like a
    Lucene segment before its merge. The clean paths for mutation:
    ``add(batch, replace=True)`` (delete-then-add, the Lucene shape)
    for changed re-adds, and :meth:`remove` for deletions — both are
    O(metadata) merge-on-read predicate deletes that drain at the
    next ``maintain()``/``optimize``; for corpus-scale churn, run
    exact dedup upstream (``llm.dedup.incremental_dedup``) or
    rebuild."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        id_col: str = "doc_id",
        text_col: str = "text",
        auto_compact_after: dict | None = None,
        prefix_len: int = 2,
        term_bloom: bool = False,
        stats_refresh: str = "add",
    ) -> None:
        """``prefix_len``: md5-prefix hex chars per bucket — 2 (the
        default) gives 256 buckets, 1 gives 16. Only consulted when
        CREATING the index; an existing table's width is inferred from
        its committed partition values, so a fresh handle can never
        hash terms into a different layout than the stored rows.

        ``term_bloom=True`` writes parquet bloom filters on ``term``
        for new postings commits: the serve's ``term IN (...)``
        pushdown can then skip OWNED files whose bloom proves every
        query term absent — the lever for files written UNSORTED
        (the initial build, pre-``maintain`` rewrites), whose term
        min/max spans the alphabet and defeats stats skipping.
        (Pending merge-on-read appends are outside any skipping —
        they are always read and key-resolved.) Costs bloom build
        time + bytes per add commit; a handle opened without the flag
        adopts whatever the table committed.

        ``stats_refresh`` decides WHEN the per-term MAXSCORE stats
        refresh runs: ``"add"`` (default) maintains the stats inside
        every ``add`` — pruning is always live. Pure-insert batches
        (the production hot path) pay an O(batch) delta merge plus a
        fixed stats-commit constant, never a postings scan (see
        :meth:`_merge_term_stats_pure_insert` and SCALING.md
        "production-ratio add economics"); re-adds and replace-adds
        pay a scoped recompute. ``"maintain"`` defers the
        refresh to :meth:`maintain`/:meth:`refresh_term_stats` — adds
        stay lean and the serve falls back to the EXACT plan while
        stats are stale (the freshness sidecar below makes staleness
        detection exact), the Lucene model of stats freshness tied to
        maintenance cycles."""
        from datalake_toolkit_spark.lakehouse import LakeTable

        if stats_refresh not in ("add", "maintain"):
            raise ValueError(
                f"stats_refresh must be add|maintain, got {stats_refresh!r}"
            )
        self.stats_refresh = stats_refresh

        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.text_col = text_col
        self._creation_prefix_len = prefix_len
        self.postings_t = LakeTable(
            spark,
            os.path.join(path, "postings"),
            partition_by=("term_prefix",),
            auto_compact_after=auto_compact_after,
            bloom_filter_columns=("term",) if term_bloom else None,
        )
        self.doc_stats_t = LakeTable(
            spark,
            os.path.join(path, "doc_stats"),
            partition_by=("dhash_prefix",),
            auto_compact_after=auto_compact_after,
        )
        # <= 256 rows (one per doc_stats bucket) — unpartitioned,
        # copy-on-write upserts: rewriting the whole table is cheaper
        # than any merge bookkeeping at this size. Per-file min/max
        # stats are disabled: the table is always read whole, so
        # collecting footer stats on every add commit is pure
        # write-path tax
        self.corpus_stats_t = LakeTable(
            spark, os.path.join(path, "corpus_stats"), stats_columns=()
        )
        # (term, df, max_tf, min_dl, term_prefix) — one row per term,
        # bucketed exactly like postings, feeding the max-score pruned
        # BM25 serve (:meth:`search_bm25` ``prune="auto"``). Refreshed
        # per touched bucket at ``add`` (a pure recompute of the
        # bucket's committed postings — idempotent like corpus_stats).
        # Removals can only shrink df/max_tf and grow min_dl — stale
        # rows would UNDERestimate the idf bound — so ``remove``/
        # ``add(replace=True)`` either incrementally recompute exactly
        # the removed docs' terms (fresh-at-entry, stats_refresh=
        # "add": pruning stays live, see
        # :meth:`_refresh_term_stats_for_terms`) or TRUNCATE the table
        # and serve the exact unpruned plan until
        # :meth:`refresh_term_stats`/:meth:`rebucket` restores
        # coverage (the lean deferred contract).
        # NOTE: per-file stats stay ON here (unlike corpus_stats) —
        # the partition-scoped MoR upsert's key-range match probe
        # reads them; disabling was measured 4-6x SLOWER per add at
        # sf0.1, not faster
        self.term_stats_t = LakeTable(
            spark,
            os.path.join(path, "term_stats"),
            partition_by=("term_prefix",),
            auto_compact_after=auto_compact_after,
        )

    # the shared multi-table pin contract (lakehouse.table.resolve_pin)
    _pin = staticmethod(resolve_pin)

    def snapshot(self) -> dict:
        """Pin the CURRENT index state for version-stable serving: a
        dict of per-table versions to pass as ``at=`` to the search
        methods. Postings, doc stats and corpus stats are then served
        from ONE consistent commit point, undisturbed by later adds /
        removes / maintenance — the time-travel contract the
        underlying LakeTables already have, lifted to the index."""
        # All four versions must come from ONE commit point: a
        # concurrent add landing between any two reads would pair an
        # older postings pin with newer doc/corpus stats whose
        # n_docs/avgdl disagree with the pinned postings (r13 ADVICE
        # #4 — the same hazard the term_stats pairing already
        # guarded). Capture everything, then re-read the postings
        # version: if it moved, a writer raced us — retry. Bounded
        # retries suffice because the index is single-writer by
        # contract (concurrent WRITERS are unsupported everywhere
        # else too); the loop only defends the snapshot-vs-one-writer
        # interleaving.
        for _ in range(5):
            pv = self.postings_t.current_version()
            dv = self.doc_stats_t.current_version()
            cv = self.corpus_stats_t.current_version()
            # pinned only when provably fresh AT CAPTURE — versions
            # are immutable afterwards, so a pinned serve can trust
            # the pair without re-checking the live sidecar. The
            # record is paired against the postings version CAPTURED
            # ABOVE (not the live one); on match, the record's OWN
            # stats_version is the certified partner — never the
            # live table's.
            rec = self._stats_fresh_record()
            if self.postings_t.current_version() == pv:
                return {
                    "postings": pv,
                    "doc_stats": dv,
                    "corpus_stats": cv,
                    "term_stats": (
                        rec.get("stats_version")
                        if rec is not None
                        and rec.get("postings_version") == pv
                        else None
                    ),
                }
        raise RuntimeError(
            "snapshot(): postings version kept moving across 5 "
            "capture attempts — a writer is racing the snapshot"
        )

    def _prefix_len(self, at: dict | None = None) -> int:
        """The POSTINGS table's committed bucket width, or the
        creation width for a table that doesn't exist yet. With a
        pin, the PINNED layout — a snapshot taken before a
        re-bucketing keeps hashing query terms into the buckets that
        version stored."""
        v = self._pin(at, "postings") if at is not None else None
        if v is None and self.postings_t.current_version() is None:
            return self._creation_prefix_len
        owners = self.postings_t._manifest(v)["owners"]
        for key in owners:
            # "term_prefix=ab" -> 2
            return len(key.split("=", 1)[1])
        return self._creation_prefix_len

    def _doc_prefix_len(self) -> int:
        """The DOC_STATS table's committed bucket width. Derived from
        its OWN manifest, never assumed equal to the postings width:
        a crash between :meth:`rebucket`'s two snapshot writes leaves
        the tables at different widths, and as long as every doc_stats
        key computation uses THIS width (adds, removes, stats
        refreshes) both tables stay individually consistent and a
        re-run of ``rebucket`` repairs the split. Falls back to the
        postings width (then the creation width) before the first
        doc_stats commit, so a fresh index lays both tables out
        alike."""
        if self.doc_stats_t.current_version() is None:
            return self._prefix_len()
        owners = self.doc_stats_t._manifest()["owners"]
        for key in owners:
            return len(key.split("=", 1)[1])
        return self._prefix_len()

    def add(
        self,
        docs: DataFrame,
        mode: str = "mor",
        replace: bool = False,
        replaced_old: DataFrame | None = None,
    ) -> int:
        """Index a batch: postings commit first, doc stats second,
        corpus stats third — all idempotent (the stats refresh is a
        pure function of the committed doc_stats buckets), so a crash
        anywhere in the chain replays cleanly. Posting rows are
        POSITIONAL (sorted token offsets per (term, doc)), so phrase
        queries serve from the index too. Returns the postings
        table's committed version.

        ``replace=True`` is the changed-content re-add path: the
        batch's doc_ids are :meth:`remove`\\ d first (an O(metadata)
        predicate delete), so postings for terms the new text DROPPED
        die instead of serving stale — delete-then-add, the Lucene
        contract. Costs one bounded collect of the batch's distinct
        ids (replace batches are update-sized; for corpus-scale
        rewrites, rebuild). A replay of a crashed replace-add
        converges: the re-run's delete covers any half-committed
        appends, and the re-run's appends land after it, immune.

        ``replaced_old`` (only with ``replace=True``): an
        ``(id_col, text_col)`` frame holding the batch docs' LAST
        INDEXED content — e.g. the delete side of a CDF window. When
        given, the incremental removal-stats path derives the
        affected terms by tokenizing it (O(batch)) instead of
        scanning the postings table for the ids' rows (O(corpus
        columns)) — the lever that keeps CDF-sync windows free of
        any postings scan. CALLER-OWNED correctness, same class as
        ``partition_scoped``: rows must reflect what the index
        actually holds for those ids — a hint that misses indexed
        terms would leave their df over-counted, silently
        UNDER-estimating the MAXSCORE bound. The sync paths satisfy
        it by construction (the index follows the table)."""
        ids: list = []
        if replace and self.postings_t.current_version() is not None:
            ids = [
                r["doc_id"]
                for r in docs.select(
                    F.col(self.id_col).alias("doc_id")
                ).distinct().collect()
            ]
        return self._apply(docs, ids, mode=mode, before=replaced_old)

    def _apply(
        self,
        docs: DataFrame | None,
        remove_ids,
        mode: str = "mor",
        before: DataFrame | None = None,
    ) -> int | None:
        """The one mutation pass behind :meth:`add` and :meth:`remove`:
        delete ``remove_ids`` (one merge-on-read predicate delete each
        on postings and doc_stats, one removal-stats refresh), then
        insert ``docs`` (None = remove only), then ONE corpus-stats
        refresh over every doc bucket either side touched. A CDF sync
        window passes its net deletes and its replaced ids together,
        so a window pays one removal pass, not two. ``before``: the
        removed ids' last indexed content (``replaced_old`` /
        ``removed_docs``). Returns the postings version of the insert
        commit, or None for a remove-only pass."""
        # Captured BEFORE any commit bumps versions: the scoped
        # (batch-terms-only) refresh below is only sound when the
        # prior stats state was provably consistent. If stats were
        # already stale at entry (a crashed prior add between its
        # postings commit and its refresh, adds through a
        # stats_refresh="maintain" handle, any out-of-band commit),
        # recomputing just THIS batch's terms would leave other
        # terms' df/max_tf/min_dl at pre-gap values — and marking
        # fresh would then under-estimate their MAXSCORE bounds and
        # silently drop true top-k docs. Stale-at-entry adds repair
        # with a FULL refresh instead (see below).
        fresh_before = self._stats_fresh()
        corpus_fresh_before = self._corpus_fresh()
        maintain_stats = self.stats_refresh == "add" and fresh_before
        removing = (
            bool(remove_ids) and self.postings_t.current_version() is not None
        )
        removed_buckets: list[str] = []
        if removing:
            # fresh-at-entry passes maintain the removed ids' term
            # stats incrementally, so pruning survives the whole
            # replace cycle (the CDF-sync hot path); stale ones keep
            # the lean truncate + deferred-restore contract.
            #
            # The removal-side recompute SKIPS terms that also appear
            # in the NEW batch: the insert side's scoped refresh below
            # recomputes exactly the batch's vocabulary from the
            # post-add committed postings, which is the final truth
            # for every shared term. Skipping them leaves those terms'
            # stored df counting the removed docs until the insert
            # commits, so the removal step never stamps the freshness
            # record when an insert follows: the record stays stale
            # (serving falls back to the exact plan) until the
            # insert-side refresh certifies it, and a crash between
            # the commits can only leave stats marked stale. A dropped
            # term's state is identical before and after the add
            # commit (the appended rows hold batch terms only), so the
            # reduced removal refresh commits the same final stats bit
            # for bit.
            removed_buckets = self._remove(
                remove_ids,
                maintain_stats=maintain_stats,
                affected_terms=(
                    self._terms_of(before) if before is not None else None
                ),
                recompute_exclude=(
                    docs.select(
                        F.explode(_tokens(self.text_col)).alias("term")
                    ).distinct()
                    if docs is not None
                    else None
                ),
            )
        if docs is None:
            if removing and maintain_stats:
                # nothing follows: the removal refresh IS the final
                # state of every affected term
                self._mark_stats_fresh()
            self._refresh_corpus_stats(
                removed_buckets, entry_fresh=corpus_fresh_before
            )
            return None
        plen = self._prefix_len()
        toks = docs.select(
            F.col(self.id_col).alias("doc_id"),
            _tokens(self.text_col).alias("w"),
        ).where(F.size("w") > 0)
        post = (
            toks.select(
                "doc_id",
                F.size("w").alias("dl"),
                F.posexplode("w").alias("pos", "term"),
            )
            .groupBy("term", "doc_id", "dl")
            .agg(
                F.count(F.lit(1)).alias("tf"),
                F.array_sort(F.collect_list("pos")).alias("positions"),
            )
            .withColumn("term_prefix", F.substring(F.md5("term"), 1, plen))
        )
        # the batch's posting rows feed three commits — cache them for
        # the duration of add() instead of re-tokenizing per commit
        post = post.persist()
        try:
            postings_first = self.postings_t.current_version() is None
            if postings_first:
                v = self.postings_t.write(post, op="postings_build")
            else:
                v = self.postings_t.upsert(
                    post,
                    keys=["term", "doc_id"],
                    mode=mode,
                    partition_scoped=True,
                    assume_key_unique=True,  # posting_lists groups by (term, doc)
                )
            # doc_stats keys hash at doc_stats' OWN committed width
            # (== plen except mid-rebucket-crash states, which this
            # keeps per-table consistent — see _doc_prefix_len)
            dplen = self._doc_prefix_len()
            stats = post.select("doc_id", "dl").distinct().withColumn(
                "dhash_prefix",
                F.substring(
                    F.md5(F.col("doc_id").cast("string")),
                    1,
                    dplen,
                ),
            )
            if self.doc_stats_t.current_version() is None:
                self.doc_stats_t.write(stats, op="postings_build")
                # first build: the batch IS the full bucket state —
                # derive the stats directly, no read-back needed
                self.corpus_stats_t.write(
                    stats.groupBy("dhash_prefix").agg(
                        F.count(F.lit(1)).alias("n_docs"),
                        F.sum("dl").alias("total_dl"),
                    ),
                    op="corpus_stats",
                )
                self._mark_corpus_fresh()
                if postings_first:
                    self.term_stats_t.write(
                        post.groupBy("term", "term_prefix").agg(
                            F.count(F.lit(1)).cast("long").alias("df"),
                            F.max("tf").cast("long").alias("max_tf"),
                            F.min("dl").cast("long").alias("min_dl"),
                        ),
                        op="term_stats",
                    )
                    self._mark_stats_fresh()
                else:
                    # postings pre-existed this handle's first
                    # doc_stats commit (a crashed first add replayed
                    # with a DIFFERENT batch): the batch is NOT the
                    # corpus, so batch-derived term stats would be
                    # stale-as-fresh — rebuild from the committed
                    # buckets instead
                    self.refresh_term_stats()
            else:
                # bounded collect: <= 16^plen bucket keys per set.
                # ONE job computes BOTH the doc-stats buckets (needed
                # before the doc_stats upsert so the pure-insert probe
                # reads the PRE-commit state) and the postings term
                # buckets the stats refresh below needs — two
                # cache-scan jobs merged into one (guide §1.2: fewer
                # jobs beats faster jobs when each is metadata-sized).
                # A replace-add folds the removed ids' buckets in, so
                # the corpus recompute happens ONCE over the union.
                bsets = post.agg(
                    F.collect_set("term_prefix").alias("tp"),
                    F.collect_set(
                        F.substring(
                            F.md5(F.col("doc_id").cast("string")),
                            1,
                            dplen,
                        )
                    ).alias("dp"),
                ).collect()[0]
                touched = {f"dhash_prefix={p}" for p in bsets["dp"]}
                tbuckets = sorted(
                    f"term_prefix={p}" for p in bsets["tp"]
                )
                # pure-insert detection against PRE-upsert doc_stats:
                # a batch none of whose ids already exist can merge
                # term-stat DELTAS (O(batch) — no postings scan at
                # all); any pre-existing id means pairs may be
                # overwritten, where only a recompute keeps df exact.
                # The probe reads just the batch's doc buckets of the
                # doc-stats table (one row per doc — tiny next to
                # postings).
                pure_insert = False
                if (
                    self.stats_refresh == "add"
                    and fresh_before
                    and not removing
                ):
                    live_doc = live_partition_keys(
                        self.doc_stats_t._manifest()
                    )
                    probe_b = sorted(touched & live_doc)
                    pure_insert = not probe_b or not (
                        self.doc_stats_t.read(partitions=probe_b)
                        .join(
                            stats.select("doc_id").distinct(),
                            "doc_id",
                            "left_semi",
                        )
                        .take(1)
                    )
                self.doc_stats_t.upsert(
                    stats,
                    keys=["doc_id"],
                    mode=mode,
                    partition_scoped=True,
                    assume_key_unique=True,
                )
                if pure_insert and corpus_fresh_before:
                    # no committed doc row can be replaced and the
                    # baseline provably reflects the pre-commit state:
                    # merge integer deltas — bit-equal to the
                    # recompute, minus its doc_stats read-back
                    self._merge_corpus_stats_pure_insert(stats)
                else:
                    self._refresh_corpus_stats(
                        sorted(touched | set(removed_buckets)),
                        entry_fresh=corpus_fresh_before,
                    )
                if self.stats_refresh == "add":
                    if fresh_before and pure_insert:
                        # the production hot path: no batch pair can
                        # overwrite a committed one, so df adds and
                        # max_tf/min_dl merge — one term-stats read +
                        # one batch aggregation, never a postings scan
                        self._merge_term_stats_pure_insert(
                            post, tbuckets=tbuckets
                        )
                    elif fresh_before:
                        # fresh at entry: the scoped recompute of the
                        # batch's terms certifies the table — the
                        # removal step already recomputed the removed
                        # ids' other terms incrementally (see _remove),
                        # so the only stats still owed are the batch's
                        # own
                        self._refresh_term_stats(
                            tbuckets, batch_terms=post
                        )
                    elif not removing:
                        # stats were stale at entry: a scoped
                        # recompute can't certify the whole table, so
                        # restore from every live bucket — the same
                        # repair maintain() runs, pulled forward so
                        # the default mode keeps pruning always-live
                        self.refresh_term_stats()
                    # stale pass with a removal: _remove just
                    # truncated the stats — restoring here would put a full
                    # postings pass on the sync hot path; leave it to
                    # maintain()/refresh_term_stats(), the deferred
                    # contract (serving stays exact meanwhile)
                # "maintain": stats go stale here and the freshness
                # record no longer matches — the serve falls back to
                # the exact plan until maintain()/refresh_term_stats()
        finally:
            post.unpersist()
        return v

    def _merge_term_stats_pure_insert(
        self, post: DataFrame, tbuckets: list[str] | None = None
    ) -> None:
        """O(batch) term-stats maintenance for a PURE-INSERT add (the
        caller proved none of the batch's doc_ids pre-exist, and the
        stats were fresh at entry): since no committed (term, doc)
        pair can be overwritten, the batch's per-term aggregates merge
        EXACTLY with the committed rows — df adds, max_tf takes the
        greatest, min_dl the least (a df=0 row left by the incremental
        removal path counts as absent, so its stale extrema don't
        leak). Cost: one read of the batch terms' term-stats buckets
        (one row per term — tiny next to postings) plus one batch
        aggregation; the postings table is never scanned. Bit-equal
        to a full recompute (test_pure_insert_delta_equals_recompute).

        Buckets the stats table does NOT yet cover (first rows after a
        truncation) fall back to the scoped recompute — merging into
        a bucket whose other terms are missing would let the coverage
        check vouch for an incomplete bucket."""
        batch = post.groupBy("term", "term_prefix").agg(
            F.count(F.lit(1)).cast("long").alias("df_b"),
            F.max("tf").cast("long").alias("max_tf_b"),
            F.min("dl").cast("long").alias("min_dl_b"),
        )
        if tbuckets is None:  # add() passes its already-collected set
            tbuckets = sorted(
                {
                    f"term_prefix={r['p']}"
                    for r in post.select(
                        F.col("term_prefix").alias("p")
                    ).distinct().collect()
                }
            )
        if not tbuckets:
            self._mark_stats_fresh()  # empty batch on a fresh table
            return
        covered = self._stats_covered_buckets()
        if not set(tbuckets) <= covered:
            self._refresh_term_stats(tbuckets, batch_terms=post)
            return
        old = self.term_stats_t.read(partitions=tbuckets).select(
            "term",
            "term_prefix",
            F.col("df").alias("df_o"),
            F.col("max_tf").alias("max_tf_o"),
            F.col("min_dl").alias("min_dl_o"),
        )
        absent = F.coalesce("df_o", F.lit(0)) == 0
        merged = batch.join(old, ["term", "term_prefix"], "left").select(
            "term",
            "term_prefix",
            (F.coalesce("df_o", F.lit(0)) + F.col("df_b")).alias("df"),
            F.when(absent, F.col("max_tf_b"))
            .otherwise(F.greatest("max_tf_o", "max_tf_b"))
            .alias("max_tf"),
            F.when(absent, F.col("min_dl_b"))
            .otherwise(F.least("min_dl_o", "min_dl_b"))
            .alias("min_dl"),
        )
        self.term_stats_t.upsert(
            merged,
            keys=["term"],
            mode="mor",
            partition_scoped=True,
            assume_key_unique=True,
        )
        self._mark_stats_fresh()

    def _merge_corpus_stats_pure_insert(self, stats: DataFrame) -> None:
        """O(batch) corpus-stats maintenance for a PURE-INSERT add:
        no committed doc row can be replaced, so each touched
        bucket's truth is exactly baseline + batch delta — and both
        columns are INTEGER counts/sums of longs, so the delta equals
        the recompute bit for bit. One tiny corpus_stats read plus a
        batch aggregation; the doc_stats read-back the recompute pays
        never happens. Only taken when the freshness marker proves
        the baseline reflects the pre-commit doc_stats state (see
        :meth:`_corpus_fresh`); any crash or out-of-band mutation
        breaks the marker and the next write repairs via the
        recompute path."""
        delta = stats.groupBy("dhash_prefix").agg(
            F.count(F.lit(1)).cast("long").alias("_dn"),
            F.sum("dl").cast("long").alias("_ddl"),
        )
        cur = self.corpus_stats_t.read().select(
            "dhash_prefix", "n_docs", "total_dl"
        )
        merged = delta.join(cur, "dhash_prefix", "left").select(
            "dhash_prefix",
            (F.coalesce(F.col("n_docs"), F.lit(0)) + F.col("_dn"))
            .cast("long")
            .alias("n_docs"),
            (F.coalesce(F.col("total_dl"), F.lit(0)) + F.col("_ddl"))
            .cast("long")
            .alias("total_dl"),
        )
        self.corpus_stats_t.upsert(
            merged, keys=["dhash_prefix"], assume_key_unique=True
        )
        self._mark_corpus_fresh()

    def _corpus_fresh_path(self) -> str:
        return os.path.join(self.path, "corpus_stats", "_fresh_at.json")

    def _mark_corpus_fresh(self) -> None:
        """Record which (doc_stats, corpus_stats) version pair the
        committed corpus stats describe — crash-safe tmp+rename, the
        same sidecar pattern as the term-stats marker. The pure-insert
        delta path trusts its baseline only when this record matches
        the live versions of BOTH tables at add() entry; anything
        else (crash between the commits, out-of-band writes) degrades
        to the self-healing recompute."""
        import json as json_mod
        import tempfile

        p = self._corpus_fresh_path()
        os.makedirs(os.path.dirname(p), exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(p), suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json_mod.dump(
                {
                    "doc_stats_version":
                        self.doc_stats_t.current_version(),
                    "corpus_stats_version":
                        self.corpus_stats_t.current_version(),
                },
                f,
            )
        os.replace(tmp, p)

    def _corpus_fresh(self) -> bool:
        import json as json_mod

        try:
            with open(self._corpus_fresh_path()) as f:
                rec = json_mod.load(f)
        except (OSError, ValueError):
            return False
        return (
            isinstance(rec, dict)
            and rec.get("doc_stats_version")
            == self.doc_stats_t.current_version()
            and rec.get("corpus_stats_version")
            == self.corpus_stats_t.current_version()
        )

    def _refresh_corpus_stats(
        self, buckets: list[str], entry_fresh: bool = False
    ) -> None:
        """Recompute (n_docs, total_dl) for the given doc_stats
        buckets from their COMMITTED state and upsert the <= 256
        result rows into ``corpus_stats``. Pure recomputation (not a
        delta), so re-added docs, replayed batches, removals, and
        crash recovery all converge to the truth; cost is O(touched
        buckets), paid on the write path so serving never scans
        doc_stats. A touched bucket that came back EMPTY (every doc
        removed) upserts an explicit zero row — leaving the old row
        would silently keep counting the removed docs.

        ``entry_fresh``: the caller certifies the corpus stats were
        fresh BEFORE its doc_stats mutation (whose buckets are all in
        ``buckets``) — then the refreshed table is globally
        consistent and the marker re-arms; a refresh that covers
        every live bucket re-arms unconditionally."""
        if not buckets:
            return
        if self.corpus_stats_t.current_version() is None:
            # never SEED a partial stats table: a legacy index whose
            # first stats commit came from a remove()/replace-add
            # would otherwise cover one bucket, and _corpus_stats
            # would trust the fragment — backfill every live bucket
            buckets = sorted(
                set(buckets)
                | live_partition_keys(self.doc_stats_t._manifest())
            )
        fresh = (
            self.doc_stats_t.read(partitions=buckets)
            .groupBy("dhash_prefix")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("dl").alias("total_dl"),
            )
        )
        touched = self.spark.createDataFrame(
            [(b.split("=", 1)[1],) for b in buckets],
            "dhash_prefix string",
        )
        full = touched.join(fresh, ["dhash_prefix"], "left").select(
            "dhash_prefix",
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
            F.coalesce("total_dl", F.lit(0)).cast("long").alias("total_dl"),
        )
        covered_all = set(buckets) >= live_partition_keys(
            self.doc_stats_t._manifest()
        )
        if self.corpus_stats_t.current_version() is None or covered_all:
            # recomputing EVERY live bucket means `full` is the complete
            # stats table — snapshot-write it instead of paying the
            # upsert's read-merge of the previous version (common at
            # small bucket widths, where any real batch touches all
            # buckets; still pure recomputation, so replay-safe)
            self.corpus_stats_t.write(full, op="corpus_stats")
        else:
            self.corpus_stats_t.upsert(
                full, keys=["dhash_prefix"], assume_key_unique=True
            )
        if entry_fresh or covered_all:
            self._mark_corpus_fresh()

    def _stats_fresh_path(self) -> str:
        return os.path.join(self.path, "term_stats", "_fresh_at.json")

    def _mark_stats_fresh(self) -> None:
        """Record, crash-safe (tmp+rename), WHICH postings version the
        committed term stats describe. The serve prunes only when the
        record matches the CURRENT versions of both tables — so a
        crash between a postings commit and its stats refresh, a
        deferred-mode add, or any out-of-band mutation degrades to
        the exact plan instead of trusting silently-stale bounds."""
        import json as json_mod
        import tempfile

        p = self._stats_fresh_path()
        os.makedirs(os.path.dirname(p), exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(p), suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json_mod.dump(
                {
                    "postings_version": self.postings_t.current_version(),
                    "stats_version": self.term_stats_t.current_version(),
                },
                f,
            )
        os.replace(tmp, p)

    def _stats_fresh_record(self) -> dict | None:
        """The freshness sidecar's (postings_version, stats_version)
        record, or None when absent/corrupt — one read, so callers
        pair the two fields atomically."""
        import json as json_mod

        p = self._stats_fresh_path()
        try:
            with open(p) as f:
                rec = json_mod.load(f)
        except (OSError, ValueError):
            return None
        return rec if isinstance(rec, dict) else None

    def _stats_fresh(self) -> bool:
        """True iff the freshness record matches the live versions of
        both tables (see :meth:`_mark_stats_fresh`)."""
        rec = self._stats_fresh_record()
        return (
            rec is not None
            and rec.get("postings_version")
            == self.postings_t.current_version()
            and rec.get("stats_version")
            == self.term_stats_t.current_version()
        )

    def _refresh_term_stats(
        self, buckets: list[str], batch_terms: DataFrame | None = None
    ) -> None:
        """Recompute (df, max_tf, min_dl) per term for the given
        POSTINGS buckets from their COMMITTED state and upsert the
        results into ``term_stats``. Pure recomputation (not a delta),
        so replayed/crashed batches converge. A term's postings never
        span buckets, so a refreshed bucket's stats are complete for
        every term it holds — which is what lets the serve-side
        coverage check (:meth:`_term_stats_probe`) trust per-bucket
        presence.

        ``batch_terms`` (a frame with a ``term`` column — the add
        batch's vocabulary) bounds the write-path cost: a bucket whose
        stats are ALREADY live only recomputes the batch's terms (an
        add can only have changed those), so a steady-state add costs
        O(batch terms' postings), not O(bucket). Buckets NOT yet
        covered (first rows, post-truncation) always recompute in
        full — partial stats in a bucket the coverage check then
        trusts would silently drop the other terms' postings from the
        pruned serve."""
        if not buckets:
            # nothing live to describe: an EMPTY stats table trivially
            # matches empty live postings, but a non-empty one cannot
            # be certified from here — marking it fresh would stamp
            # whatever rows it holds as live bounds
            if self.term_stats_t.current_version() is None or not (
                live_partition_keys(self.term_stats_t._manifest())
            ):
                self._mark_stats_fresh()
            return
        covered: set[str] = (
            self._stats_covered_buckets()
            if self.term_stats_t.current_version() is not None
            else set()
        )
        if batch_terms is None:
            full_b, scoped_b = list(buckets), []
        else:
            full_b = [b for b in buckets if b not in covered]
            scoped_b = [b for b in buckets if b in covered]

        def _agg(df: DataFrame) -> DataFrame:
            return df.groupBy("term", "term_prefix").agg(
                F.count(F.lit(1)).cast("long").alias("df"),
                F.max("tf").cast("long").alias("max_tf"),
                F.min("dl").cast("long").alias("min_dl"),
            )

        pieces = []
        if full_b:
            pieces.append(_agg(self.postings_t.read(partitions=full_b)))
        if scoped_b:
            pieces.append(
                _agg(
                    self.postings_t.read(partitions=scoped_b).join(
                        F.broadcast(batch_terms.select("term").distinct()),
                        "term",
                        "left_semi",
                    )
                )
            )
        if not pieces:  # unreachable: full_b | scoped_b == buckets
            return
        fresh = pieces[0]
        for p in pieces[1:]:
            fresh = fresh.unionByName(p)
        if self.term_stats_t.current_version() is None or (
            batch_terms is None
            and set(buckets)
            >= live_partition_keys(self.postings_t._manifest())
        ):
            # `fresh` is the complete stats table (no prior state, or
            # a full recompute covering every live bucket) —
            # snapshot-write instead of paying the upsert's
            # read-merge (also the restore path after a truncation)
            self.term_stats_t.write(fresh, op="term_stats")
        else:
            # merge-on-read: the refresh commit is O(batch terms) —
            # an append, not a read-merge-rewrite of the stats
            # buckets; serve-time reads resolve newest-append-wins
            # and maintain() drains the pending state like the
            # postings' own MoR adds
            self.term_stats_t.upsert(
                fresh,
                keys=["term"],
                mode="mor",
                partition_scoped=True,
                assume_key_unique=True,
            )
        self._mark_stats_fresh()

    def refresh_term_stats(self) -> None:
        """Rebuild ``term_stats`` from every live postings bucket —
        the migration path for an index written before the stats table
        existed, and the scheduled restore after ``remove`` /
        ``add(replace=True)`` truncated it (removals would otherwise
        decay the stored df into an idf UNDER-estimate, breaking the
        max-score bound — see the table comment in ``__init__``).
        One full postings pass; a no-op on an empty index."""
        if self.postings_t.current_version() is None:
            return
        self._refresh_term_stats(
            sorted(live_partition_keys(self.postings_t._manifest()))
        )

    def _truncate_term_stats(self) -> None:
        """Drop every term-stats row (one O(1) empty-snapshot commit):
        the removal hook that converts 'stats may now over-count df'
        into 'stats absent — serve exactly', until
        :meth:`refresh_term_stats` restores them."""
        if self.term_stats_t.current_version() is None:
            return
        if not live_partition_keys(self.term_stats_t._manifest()):
            return  # already empty
        empty = self.spark.createDataFrame(
            [],
            "term string, term_prefix string, "
            "df long, max_tf long, min_dl long",
        )
        self.term_stats_t.write(empty, op="term_stats_truncate")
        try:
            os.remove(self._stats_fresh_path())
        except OSError:
            pass

    def _refresh_term_stats_for_terms(self, affected: DataFrame) -> None:
        """Recompute (df, max_tf, min_dl) for exactly the given
        ``(term, term_prefix)`` rows from the COMMITTED (post-delete)
        postings and upsert them — the incremental removal hook that
        keeps MAXSCORE pruning live across deletes. Sound because a
        removal only changes the stats of the removed docs' OWN terms:
        every other term's (df, max_tf, min_dl) is untouched, so a
        table that was fresh before the delete stays complete once the
        affected rows are replaced. A term whose last posting died
        upserts an explicit zero row (df=0, max_tf=0): its w_ub bound
        is then 0 and the pruned serve correctly treats it as
        contributing nothing, while the bucket's coverage stays whole.
        Caller contract: only invoke when the stats were provably
        fresh at mutation entry (the caller gates on that) — an
        incremental recompute cannot certify a table that was already
        stale. Never marks the stats fresh: the caller stamps the
        record once its LAST commit landed (see :meth:`_apply`)."""
        terms = affected.select("term", "term_prefix").distinct()
        buckets = sorted(
            {
                f"term_prefix={r['p']}"
                for r in terms.select(
                    F.col("term_prefix").alias("p")
                ).distinct().collect()
            }
        )
        if not buckets:
            # the removed ids held no postings: stats content is
            # unchanged (the caller re-pairs the freshness record)
            return
        zeros = [
            F.lit(0).cast("long").alias(c)
            for c in ("df", "max_tf", "min_dl")
        ]
        live = live_partition_keys(self.postings_t._manifest())
        if set(buckets) & live:
            fresh = (
                self.postings_t.read(
                    partitions=sorted(set(buckets) & live)
                )
                .join(terms.select("term"), "term", "left_semi")
                .groupBy("term", "term_prefix")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("df"),
                    F.max("tf").cast("long").alias("max_tf"),
                    F.min("dl").cast("long").alias("min_dl"),
                )
            )
            full = terms.join(
                fresh, ["term", "term_prefix"], "left"
            ).select(
                "term",
                "term_prefix",
                *[
                    F.coalesce(c, F.lit(0)).cast("long").alias(c)
                    for c in ("df", "max_tf", "min_dl")
                ],
            )
        else:  # every affected bucket died with the delete
            full = terms.select("term", "term_prefix", *zeros)
        self.term_stats_t.upsert(
            full,
            keys=["term"],
            mode="mor",
            partition_scoped=True,
            assume_key_unique=True,
        )

    def _terms_of(self, docs: DataFrame) -> DataFrame:
        """(term, term_prefix) vocabulary of an (id, text) frame at
        the postings table's committed bucket width — the O(batch)
        source of removal-affected terms when the caller supplies the
        removed docs' last indexed content (see ``replaced_old`` /
        ``removed_docs``)."""
        plen = self._prefix_len()
        return (
            docs.select(_tokens(self.text_col).alias("w"))
            .select(F.explode("w").alias("term"))
            .distinct()
            .withColumn(
                "term_prefix", F.substring(F.md5("term"), 1, plen)
            )
        )

    def remove(self, doc_ids, removed_docs: DataFrame | None = None) -> None:
        """Delete documents from the index: merge-on-read PREDICATE
        deletes on both postings and doc_stats (O(metadata) commits —
        reads anti-apply the predicate until ``maintain()``/
        ``optimize`` materializes it), then the touched buckets'
        corpus stats recompute. ``doc_ids`` is a bounded id list
        (update-sized; for corpus-scale deletion, rebuild from the
        surviving docs). Idempotent: removing an absent id is a
        no-op.

        Term stats: when this handle maintains stats on the write
        path (``stats_refresh="add"``) and they were fresh at entry,
        the removal incrementally recomputes exactly the removed
        docs' terms (see :meth:`_refresh_term_stats_for_terms`), so
        MAXSCORE pruning stays live across deletes — no
        ``maintain()`` needed. Otherwise the stats truncate and the
        serve falls back to the exact plan (the lean deferred-mode
        contract).

        ``removed_docs``: optional ``(id_col, text_col)`` frame of
        the removed ids' LAST INDEXED content (a CDF window's delete
        side). Derives the affected terms by tokenizing it —
        O(batch) — instead of scanning the postings for the ids'
        rows. CALLER-OWNED correctness (must match what the index
        holds; see :meth:`add`'s ``replaced_old``)."""
        self._apply(None, list(doc_ids), before=removed_docs)

    def _remove(
        self,
        doc_ids,
        maintain_stats: bool = False,
        affected_terms: DataFrame | None = None,
        recompute_exclude: DataFrame | None = None,
    ) -> list[str]:
        """The removal step of :meth:`_apply`, minus the corpus-stats
        refresh and the freshness stamp — returns the removed ids' live
        doc_stats bucket keys so the pass folds them into ITS one
        refresh (a replaced doc whose NEW text is empty still gets its
        bucket recounted that way). String ids escape both
        quote and backslash — Spark's string literals are
        backslash-escaped, so quote-doubling alone would let an id
        like ``a\\`` swallow the quote and silently neuter the
        predicate.

        ``maintain_stats=True`` (caller certifies the term stats were
        FRESH at mutation entry) captures the removed ids' terms
        before the delete — one column-pruned postings pass over
        (term, term_prefix, doc_id), or O(batch) tokenization when
        ``affected_terms`` supplies the vocabulary (see
        :meth:`_terms_of`) — and incrementally recomputes just those
        terms' stats afterwards, keeping pruning live. With
        ``False`` the stats truncate wholesale (O(1)) and serving
        degrades to the exact plan until a refresh.

        ``recompute_exclude`` (a ``term`` frame): terms whose stats
        the CALLER recomputes after its own following commit — the
        pass hands in its insert batch's vocabulary, because the
        insert-side scoped refresh recomputes those terms from the
        final state anyway. Only affects which terms the incremental
        removal refresh touches, never the deletes themselves. The
        excluded terms' stored stats stay behind the postings until
        that refresh, which is why this step never marks the stats
        fresh: the caller certifies once its last commit landed."""
        ids = list(doc_ids)  # non-empty, postings committed (see _apply)

        def lit(v) -> str:
            if isinstance(v, str):
                escaped = v.replace("\\", "\\\\").replace("'", "\\'")
                return f"'{escaped}'"
            return str(v)

        pred = "doc_id IN ({})".format(", ".join(lit(v) for v in ids))
        affected = None
        if maintain_stats and affected_terms is not None:
            # caller-supplied vocabulary (last indexed content):
            # derived from the caller's own frame, untouched by the
            # delete below — no postings scan at all
            affected = affected_terms
        elif maintain_stats:
            # captured (and pinned by the checkpoint inside
            # _refresh_term_stats_for_terms via this eager one) BEFORE
            # the delete commits — afterwards the rows are gone
            affected = self.postings_t.read().where(
                F.col("doc_id").isin(ids)
            ).select("term", "term_prefix").distinct()
        if affected is not None and recompute_exclude is not None:
            # drop the terms the caller's own post-commit refresh
            # covers (see the docstring) — for an equal-vocabulary
            # replace-add this empties the removal refresh outright
            affected = affected.join(
                recompute_exclude.select("term").distinct(),
                "term",
                "left_anti",
            )
        if affected is not None and affected_terms is None:
            # the postings capture must still pin PRE-delete state
            affected = affected.localCheckpoint(eager=True)
        self.postings_t.delete_where(pred, mode="mor")
        if affected is not None:
            self._refresh_term_stats_for_terms(affected)
        else:
            # removals shrink df/max_tf and grow min_dl — a stale
            # stats row would UNDERestimate idf and break the
            # max-score bound, so drop the stats wholesale (O(1)
            # commit; pruned serving falls back to exact until
            # refresh_term_stats())
            self._truncate_term_stats()
        if self.doc_stats_t.current_version() is None:
            return []
        self.doc_stats_t.delete_where(pred, mode="mor")
        import hashlib

        dplen = self._doc_prefix_len()
        touched = {
            f"dhash_prefix={hashlib.md5(str(i).encode()).hexdigest()[:dplen]}"
            for i in ids
        }
        live = live_partition_keys(self.doc_stats_t._manifest())
        return sorted(touched & live)

    def bucket_sizes(self) -> DataFrame:
        """(term_prefix, n_postings) — the bucket-width monitor that
        decides when :meth:`rebucket` is due (the postings analogue of
        ``IVFIndex.list_sizes``): when the hot buckets' p95 grows past
        what one query should read, re-hash to a wider prefix."""
        return (
            self.postings_t.read()
            .groupBy("term_prefix")
            .agg(F.count(F.lit(1)).alias("n_postings"))
        )

    def rebucket(self, prefix_len: int) -> None:
        """Re-hash the index to a different bucket width — the
        governance lever for corpus growth: a width that gave tidy
        buckets at 1 TB makes every query read 1/16 of a 100 TB
        corpus, so widen (1 -> 2 hex chars = 16 -> 256 buckets) when
        :meth:`bucket_sizes` shows the probe cost drifting up.

        One full O(index) maintenance pass, scheduled like ``rebuild``
        / ledger retention, never per-batch: both partitioned tables
        re-hash their bucket column from the SAME stored rows and
        snapshot-write (which also materializes any pending
        merge-on-read state — a rebucket doubles as a compaction), and
        the corpus stats recompute wholesale from the new doc_stats
        layout. Serve answers are unchanged by construction — bucket
        assignment never enters scoring, only pruning — and pinned
        (``at=``) serves taken BEFORE the rebucket keep reading the
        old layout, because ``_prefix_len(at)`` resolves the width
        from the pinned manifest.

        Crash safety: the two snapshot writes are separate commits, so
        a crash between them leaves the tables at DIFFERENT widths —
        a state every code path tolerates because each table's keys
        are always computed at that table's own committed width
        (``_prefix_len`` / ``_doc_prefix_len``); re-running
        ``rebucket`` converges both."""
        if not 1 <= int(prefix_len) <= 8:
            raise ValueError(f"prefix_len must be in 1..8, got {prefix_len}")
        if self.postings_t.current_version() is None:
            self._creation_prefix_len = int(prefix_len)
            return
        plen = int(prefix_len)
        post = self.postings_t.read().withColumn(
            "term_prefix", F.substring(F.md5("term"), 1, plen)
        )
        self.postings_t.write(post, op=f"rebucket({plen})")
        # recompute term stats at the new layout (also restores a
        # truncated stats table — the rebucket already pays the full
        # postings pass, so the recompute rides along)
        self._refresh_term_stats(
            sorted(live_partition_keys(self.postings_t._manifest()))
        )
        if self.doc_stats_t.current_version() is not None:
            stats = self.doc_stats_t.read().withColumn(
                "dhash_prefix",
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, plen),
            )
            self.doc_stats_t.write(stats, op=f"rebucket({plen})")
            self._refresh_corpus_stats(
                sorted(live_partition_keys(self.doc_stats_t._manifest()))
            )

    def audit(self, verify_term_stats: bool = False) -> DataFrame:
        """Integrity audit: (check, n_violations) rows, all zeros on a
        healthy index — the post-rebucket / post-incident validation
        pass, read-only. Row-level checks share one scan per source
        table (conditional sums); every predicate is NULL-safe, so a
        NULLed prefix / dl / position element counts as the violation
        it is instead of vanishing. Checks: ``bucket_mismatch`` (a
        posting stored under a bucket that is not md5(term)'s prefix —
        serving would never probe it; also catches a mis-used
        ``partition_scoped`` upsert landing rows out of bucket),
        ``doc_bucket_mismatch`` (same for doc_stats),
        ``bad_positions`` (tf != len(positions), unsorted/NULLed
        positions, or a position outside [0, dl)), ``dl_mismatch``
        (postings dl disagrees with doc_stats dl for the same doc),
        ``orphan_posting_doc`` (postings doc absent from doc_stats),
        ``orphan_doc_stat`` (doc_stats doc with no postings),
        ``corpus_stats_drift`` (cached (n_docs, total_dl) differs
        from recomputing the bucket — a zero row for an emptied
        bucket is healthy; a missing row for a live one is not).

        ``verify_term_stats=True`` (the r13 verdict's #6 ask) adds
        ``term_stats_drift``: the committed (df, max_tf, min_dl)
        rows compared against a full scan-derived recompute — the
        detector for every CALLER-OWNED maintenance hint
        (``removed_docs`` / ``replaced_old`` before-images that
        didn't match what the index actually held leave exactly this
        drift behind, silently breaking the MAXSCORE bound). Zero
        rows for terms with no live postings are healthy; any live
        term whose committed triple disagrees with the recompute is
        a violation. O(postings) — schedule it like the deep IVF
        audit. Raises when the stats are not live-fresh (a truncated
        / deferred-mode table is not trusted by the serve, so there
        is nothing to verify — run ``refresh_term_stats()`` first)."""
        from datalake_toolkit_spark.llm.audit_util import (
            predicate_counts,
            row_count,
            union_reports,
        )

        post = self.postings_t.read()
        stats = self.doc_stats_t.read()
        plen = self._prefix_len()
        dplen = self._doc_prefix_len()

        pos_ok = (
            (F.col("tf") == F.size("positions"))
            & (F.col("positions") == F.array_sort("positions"))
            & (F.array_min("positions") >= 0)
            & (F.array_max("positions") < F.col("dl"))
        )
        post_preds = {
            "bucket_mismatch": F.col("term").isNull()
            | ~F.col("term_prefix").eqNullSafe(
                F.substring(F.md5("term"), 1, plen)
            ),
            "bad_positions": F.col("tf").isNull()
            | F.col("dl").isNull()
            | F.col("positions").isNull()
            | (F.size("positions") == 0)
            | F.exists("positions", lambda x: x.isNull())
            | ~pos_ok,
        }
        stats_preds = {
            "doc_bucket_mismatch": F.col("doc_id").isNull()
            | ~F.col("dhash_prefix").eqNullSafe(
                F.substring(
                    F.md5(F.col("doc_id").cast("string")), 1, dplen
                )
            ),
        }
        pdoc = post.select(F.col("doc_id").alias("d")).distinct()
        sdoc = stats.select(F.col("doc_id").alias("d")).distinct()
        recomputed = stats.groupBy("dhash_prefix").agg(
            F.count(F.lit(1)).alias("rn"), F.sum("dl").alias("rdl")
        )
        if self.corpus_stats_t.current_version() is not None:
            cached = self.corpus_stats_t.read()
        else:
            # legacy (pre-stats-table) index: serving recomputes from
            # doc_stats, so the cache can't drift by construction
            cached = recomputed.select(
                "dhash_prefix",
                F.col("rn").alias("n_docs"),
                F.col("rdl").alias("total_dl"),
            )
        drift = (
            cached
            .join(recomputed, "dhash_prefix", "full_outer")
            .where(
                (
                    F.coalesce("n_docs", F.lit(-1))
                    != F.coalesce("rn", F.lit(0))
                )
                | (
                    F.coalesce("total_dl", F.lit(-1))
                    != F.coalesce("rdl", F.lit(0))
                )
            )
        )
        reports = [
            predicate_counts(post, post_preds),
            predicate_counts(stats, stats_preds),
            row_count(
                "dl_mismatch",
                post.select("doc_id", F.col("dl").alias("pdl"))
                .distinct()
                .join(stats.select("doc_id", "dl"), "doc_id")
                .where(~F.col("pdl").eqNullSafe(F.col("dl"))),
            ),
            row_count(
                "orphan_posting_doc",
                pdoc.join(sdoc, "d", "left_anti"),
            ),
            row_count(
                "orphan_doc_stat", sdoc.join(pdoc, "d", "left_anti")
            ),
            row_count("corpus_stats_drift", drift),
        ]
        if verify_term_stats:
            if (
                self.term_stats_t.current_version() is None
                or not self._stats_fresh()
            ):
                raise ValueError(
                    "term stats are absent or not live-fresh — the "
                    "serve does not trust them, so there is nothing "
                    "to verify; run refresh_term_stats() first"
                )
            committed = self.term_stats_t.read().select(
                "term",
                F.col("df").alias("cdf"),
                F.col("max_tf").alias("cmax"),
                F.col("min_dl").alias("cmin"),
            )
            truth = post.groupBy("term").agg(
                F.count(F.lit(1)).cast("long").alias("tdf"),
                F.max("tf").cast("long").alias("tmax"),
                F.min("dl").cast("long").alias("tmin"),
            )
            ts_drift = (
                committed.join(truth, "term", "full_outer")
                .where(
                    (
                        F.coalesce("cdf", F.lit(0))
                        != F.coalesce("tdf", F.lit(0))
                    )
                    | (
                        F.coalesce("tdf", F.lit(0)) > 0
                    )
                    & (
                        ~F.col("cmax").eqNullSafe(F.col("tmax"))
                        | ~F.col("cmin").eqNullSafe(F.col("tmin"))
                    )
                )
            )
            reports.append(row_count("term_stats_drift", ts_drift))
        return union_reports(reports)

    def refresh_corpus_stats(self) -> None:
        """Rebuild ``corpus_stats`` from every doc_stats bucket — the
        migration path for an index written before corpus stats
        existed (one full doc_stats pass, then serving is O(1)
        forever). A no-op on an index that has never committed."""
        if self.doc_stats_t.current_version() is None:
            return
        self._refresh_corpus_stats(
            sorted(live_partition_keys(self.doc_stats_t._manifest()))
        )

    def _corpus_stats(self, at: dict | None = None) -> DataFrame:
        """One row (n_docs, avgdl) for BM25. Served from the <= 256
        cached ``corpus_stats`` rows; an index predating the stats
        table falls back to the doc_stats scan (call
        :meth:`refresh_corpus_stats` once to migrate). The summed
        bucket counts are exact integers, so avgdl divides the same
        two operands either way — bit-identical scores. A pin whose
        corpus_stats had never committed (pre-migration snapshot)
        falls back to the PINNED doc_stats scan — never the live
        state."""
        if at is not None:
            if at.get("corpus_stats") is not None:
                return self.corpus_stats_t.read(
                    version=self._pin(at, "corpus_stats")
                ).groupBy().agg(
                    F.sum("n_docs").alias("n_docs"),
                    F.try_divide(
                        F.sum("total_dl"), F.sum("n_docs")
                    ).alias("avgdl"),
                )
            return self.doc_stats_t.read(
                version=self._pin(at, "doc_stats")
            ).groupBy().agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.try_divide(
                    F.sum("dl"), F.count(F.lit(1))
                ).alias("avgdl"),
            )
        if self.corpus_stats_t.current_version() is not None:
            return self.corpus_stats_t.read().groupBy().agg(
                F.sum("n_docs").alias("n_docs"),
                F.try_divide(
                    F.sum("total_dl"), F.sum("n_docs")
                ).alias("avgdl"),
            )
        return self.doc_stats_t.read().groupBy().agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.try_divide(F.sum("dl"), F.count(F.lit(1))).alias("avgdl"),
        )

    # past this many distinct query terms, the IN-list file-skipping
    # predicate stops being pushed (a thousand-literal IN bloats the
    # plan for little skipping) — bucket pruning alone carries it
    _TERM_PUSHDOWN_MAX = 256

    def _probed_postings(
        self, qterms: DataFrame, at: dict | None = None
    ) -> DataFrame:
        """Postings restricted to the buckets the query terms hash
        into — the read lists only those directories (bounded collect:
        the batch's distinct terms, the same bound the prefix hashing
        always had). ``at`` pins a :meth:`snapshot` — bucket layout,
        pruning AND rows all come from the pinned version."""
        terms = [
            r["term"]
            for r in qterms.select("term").distinct().collect()
        ]
        return self._probed_postings_for(terms, at)

    def _probed_postings_for(
        self,
        terms: list,
        at: dict | None = None,
        exclude_files: "set[str] | None" = None,
    ) -> DataFrame:
        """:meth:`_probed_postings` over an ALREADY-COLLECTED term
        list (the pruned serves hold them driver-side anyway — no
        extra job). WITHIN the probed buckets, a ``term IN (...)``
        predicate rides the read (<= ``_TERM_PUSHDOWN_MAX`` terms):
        manifest min/max stats skip whole files (tight after a
        term-sorted ``maintain``) and parquet row-group stats skip
        inside the kept ones — the common term's bucket no longer
        decodes every OTHER term's postings to serve one query."""
        import hashlib

        v = self._pin(at, "postings") if at is not None else None
        plen = self._prefix_len(at)
        touched = {
            "term_prefix="
            + hashlib.md5(t.encode()).hexdigest()[:plen]
            for t in terms
            if t is not None
        }
        where = None
        if terms and len(terms) <= self._TERM_PUSHDOWN_MAX and all(
            isinstance(t, str) for t in terms
        ):

            def lit(t: str) -> str:
                escaped = t.replace("\\", "\\\\").replace("'", "\\'")
                return f"'{escaped}'"

            where = "term IN ({})".format(
                ", ".join(lit(t) for t in sorted(terms))
            )
        # a bucket may live ONLY in pending merge-on-read appends (no
        # rewrite has localized it into the owners map yet) — pruning
        # by owners alone would silently miss freshly added terms
        existing = live_partition_keys(self.postings_t._manifest(v))
        probe = sorted(touched & existing)
        if len(probe) == len(existing):
            return self.postings_t.read(
                version=v, where=where, exclude_files=exclude_files
            )
        return self.postings_t.read(
            version=v,
            partitions=probe,
            where=where,
            exclude_files=exclude_files,
        )

    def plan_probe(self, queries: DataFrame,
                   query_id_col: str = "query_id",
                   query_text_col: str = "query_text",
                   at: dict | None = None) -> dict:
        """What a search for these queries would OPEN, without running
        it — the index-serving analogue of ``LakeTable.plan_scan``:
        bucket and file counts before/after the term-prefix pruning.
        Planning-time observability for capacity decisions (is the
        bucket width right? is the pending-MoR read tax due a
        compaction?). ``at`` plans against a pinned :meth:`snapshot` —
        what a version-pinned serve would open, including that
        version's bucket layout."""
        import hashlib

        v = self._pin(at, "postings") if at is not None else None
        qterms = _query_terms(queries, query_id_col, query_text_col)
        plen = self._prefix_len(at)
        terms = [
            r["term"] for r in qterms.select("term").distinct().collect()
        ]
        touched = {
            "term_prefix=" + hashlib.md5(t.encode()).hexdigest()[:plen]
            for t in terms
            if t is not None
        }
        where = None
        if terms and len(terms) <= self._TERM_PUSHDOWN_MAX and all(
            isinstance(t, str) for t in terms
        ):
            esc = [
                t.replace("\\", "\\\\").replace("'", "\\'")
                for t in sorted(terms)
            ]
            where = "term IN ({})".format(
                ", ".join(f"'{t}'" for t in esc)
            )
        existing = live_partition_keys(self.postings_t._manifest(v))
        probe = sorted(touched & existing)
        # same predicate the serve pushes — the report shows the
        # file-level skipping term-sorted compaction buys
        rep = self.postings_t.plan_scan(
            where=where, version=v, partitions=probe
        )
        if at is not None:
            has_cached = at.get("corpus_stats") is not None
            stats_rows = (
                self.corpus_stats_t.read(
                    version=self._pin(at, "corpus_stats")
                ).count()
                if has_cached
                else None
            )
        else:
            has_cached = self.corpus_stats_t.current_version() is not None
            stats_rows = (
                self.corpus_stats_t.read().count() if has_cached else None
            )
        rep.update(
            buckets_total=len(existing),
            buckets_probed=len(probe),
            prefix_len=plen,
            # what a BM25 serve would read for N/avgdl: the cached
            # <= 16^prefix_len corpus_stats rows (O(1)), or — legacy
            # index, pre-migration — a full doc_stats scan
            corpus_stats_source=(
                "corpus_stats" if has_cached else "doc_stats_scan"
            ),
            corpus_stats_rows=stats_rows,
        )
        return rep

    def maintain(self, keep_last: int = 5) -> None:
        """Scheduled maintenance: drain pending merge-on-read state on
        both tables (scoped rewrites) and vacuum old versions — run it
        when ``plan_probe`` shows the pending-append read tax growing,
        exactly like ledger retention."""
        was_fresh = self._stats_fresh()
        if self.postings_t.current_version() is not None:
            # term-sorted files give every file a TIGHT term min/max,
            # so the serve's `term IN (...)` pushdown skips most of a
            # bucket's files instead of decoding the whole directory —
            # the postings analogue of OPTIMIZE ... ZORDER. The
            # SECONDARY descending-tf sort impact-orders each term's
            # run: later files of a common term carry a small tf max,
            # which the BM25 block-max candidate skip then prunes on
            # the manifest stats (see _blockmax_excludes)
            self.postings_t.optimize(sort_by=["term", "-tf"])
            self.postings_t.vacuum(keep_last=keep_last)
        for t in (
            self.doc_stats_t,
            self.corpus_stats_t,
            self.term_stats_t,
        ):
            if t.current_version() is not None:
                t.optimize()
                t.vacuum(keep_last=keep_last)
        # the optimizes bumped versions without changing content: a
        # previously-fresh record carries over; stale stats (deferred
        # mode, crashed add) recompute here — maintenance is where
        # that cost belongs
        if was_fresh:
            self._mark_stats_fresh()
        elif self.postings_t.current_version() is not None:
            self.refresh_term_stats()

    def search(
        self, queries: DataFrame, k: int = 10,
        query_id_col: str = "query_id", query_text_col: str = "query_text",
        pair_filter: DataFrame | None = None,
        at: dict | None = None,
        prune: str | bool = "auto",
        seed_df_budget: int | None = None,
    ) -> DataFrame:
        """Exact coordination ranking served from the index —
        identical output contract to :func:`keyword_search_topk`, but
        the scan is the probed term buckets instead of the corpus.
        ``pair_filter`` (first column query id, second doc id)
        restricts each query to ITS allowed documents before the
        top-k cut — per-query filtered retrieval; match counts are
        per-pair facts, so filtering commutes with the scoring.
        ``at`` pins a :meth:`snapshot` (serve that version,
        undisturbed by later adds/removes — index time travel).

        ``prune="auto"`` (default) bounds common-term candidate cost
        with the integer MAXSCORE split (see
        :meth:`_keyword_pruned_frames`) whenever the term stats cover
        the probe — EXACTLY lossless here: the ranking key
        (n_matched, sum_tf) is integer-lexicographic, so the
        exclusion argument needs no float margin at all."""
        qterms = _query_terms(queries, query_id_col, query_text_col)
        if prune not in (False, "off"):
            inputs = self._pruned_serve_inputs(qterms, at)
            if inputs is not None:
                return self._keyword_pruned_frames(
                    qterms, k, pair_filter, at, inputs, seed_df_budget
                )["topk"]
        # pair filter BEFORE the aggregation: n_matched/sum_tf are
        # per-pair facts, so filtering commutes — applying it to the
        # joined posting rows skips shuffling/aggregating pairs the
        # top-k would never see
        matched = (
            _apply_pair_filter(
                self._probed_postings(qterms, at).join(
                    F.broadcast(qterms), "term"
                ),
                pair_filter,
            )
            .groupBy("query_id", "doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_matched"),
                F.sum("tf").alias("sum_tf"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("n_matched"), F.desc("sum_tf"), F.asc("doc_id")
        )
        return (
            matched.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "doc_id", "n_matched", "sum_tf", "rank")
        )

    def _keyword_pruned_frames(
        self,
        qterms: DataFrame,
        k: int,
        pair_filter: DataFrame | None,
        at: dict | None,
        inputs: dict,
        seed_df_budget: int | None = None,
    ) -> dict:
        """The coordination layer's MAXSCORE split — integer twin of
        :meth:`_bm25_pruned_frames`, exactly lossless (no float
        margin: the ranking key (n_matched, sum_tf) is integer-
        lexicographic). Selection is driver-side over the collected
        inputs; the completion aggregation is the exact path's.

        - Phase A scores only the per-query rarest terms (ascending
          df within the seed budget); theta_n = the k-th best
          partial's n_matched under the serve ordering.
        - A document holding terms only from a set NE has n_matched
          <= |NE|; choosing NE = the (theta_n - 1) COMMONEST terms
          makes every such document STRICTLY below theta on the
          leading key — no tf or tiebreak can save it — while the k
          theta-witnesses each hold an essential term (their partial
          match counts already exceed |NE|). Fewer than k phase-A
          docs => theta_n = 0 => NE empty => the exact plan."""
        budget = int(seed_df_budget) if seed_df_budget else max(64, 4 * k)
        qpairs, tstats = inputs["qpairs"], inputs["stats"]
        byq: dict = {}
        for qid, t in qpairs:
            if t in tstats:
                byq.setdefault(qid, []).append(t)
        seed_pairs: list = []
        for qid, terms in byq.items():
            run = 0
            for i, t in enumerate(
                sorted(terms, key=lambda t: (tstats[t][0], t))
            ):
                df = tstats[t][0]
                if i == 0 or run + df <= budget:
                    seed_pairs.append((qid, t))
                run += df
        seedf = self._select_pairs(qterms, seed_pairs)
        seed_terms = sorted({t for _, t in seed_pairs})
        partial = (
            _apply_pair_filter(
                self._probed_postings_for(seed_terms, at).join(
                    F.broadcast(seedf), "term"
                ),
                pair_filter,
            )
            .groupBy("query_id", "doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_m"),
                F.sum("tf").alias("s_tf"),
            )
        )
        wk = Window.partitionBy("query_id").orderBy(
            F.desc("n_m"), F.desc("s_tf"), F.asc("doc_id")
        )
        theta_n = {
            r["query_id"]: r["n_m"]
            for r in partial.withColumn("rn", F.row_number().over(wk))
            .where(F.col("rn") == k)
            .select("query_id", "n_m")
            .collect()
        }
        # essential = all but the (theta_n - 1) commonest terms
        ess_pairs: list = []
        for qid, terms in byq.items():
            ne = max(0, theta_n.get(qid, 1) - 1)
            ordered = sorted(
                terms, key=lambda t: (-tstats[t][0], t)
            )
            ess_pairs.extend((qid, t) for t in ordered[ne:])
        all_terms = sorted({t for _, t in qpairs if t in tstats})
        post_all = self._probed_postings_for(all_terms, at)
        essf = self._select_pairs(qterms, ess_pairs)
        # candidate generation probes only the essential terms'
        # buckets/files (non-essential rows die at the essf join) —
        # same rows, narrower IN pushdown and fewer files opened
        cand = _apply_pair_filter(
            self._probed_postings_for(
                sorted({t for _, t in ess_pairs}), at
            )
            .join(F.broadcast(essf), "term")
            .select("query_id", "doc_id"),
            pair_filter,
        ).distinct()
        matched = (
            _apply_pair_filter(
                post_all.join(F.broadcast(qterms), "term"), pair_filter
            )
            .join(cand, ["query_id", "doc_id"], "left_semi")
            .groupBy("query_id", "doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_matched"),
                F.sum("tf").alias("sum_tf"),
            )
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("n_matched"), F.desc("sum_tf"), F.asc("doc_id")
        )
        topk = (
            matched.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "doc_id", "n_matched", "sum_tf", "rank")
        )
        return {"candidates": cand, "topk": topk}

    def search_phrase(
        self, queries: DataFrame, k: int = 10,
        query_id_col: str = "query_id", query_text_col: str = "query_text",
        at: dict | None = None, slop: int = 0,
    ) -> DataFrame:
        """Exact phrase matching SERVED from the positional index —
        identical output contract to :func:`phrase_search`, but the
        corpus is never touched: candidates come from the probed term
        buckets (a doc must hold every distinct phrase term) and
        adjacency verifies on the STORED position arrays (an
        occurrence at p needs p+j in term_j's positions), the
        positional-index equivalent of the batch window compare.
        ``slop > 0`` relaxes adjacency to ordered proximity: at most
        ``slop`` extra tokens interleaved across the whole phrase
        (Lucene's ordered sloppy-phrase contract), still verified
        purely on stored positions. ``at`` pins a :meth:`snapshot`."""
        return _index_phrase_search(
            self, queries, k, query_id_col, query_text_col, at, slop=slop
        )

    def _term_stats_probe(
        self, qterms: DataFrame, at: dict | None = None
    ) -> DataFrame | None:
        """(term, df, max_tf, min_dl) for the query's terms, or None
        when the stats don't cover the probe — the DataFrame face of
        :meth:`_pruned_serve_inputs` (same coverage rules)."""
        inputs = self._pruned_serve_inputs(qterms, at)
        if inputs is None:
            return None
        rows = [
            (t, int(v[0]), int(v[1]), int(v[2]))
            for t, v in sorted(inputs["stats"].items())
        ]
        return self.spark.createDataFrame(
            rows, "term string, df long, max_tf long, min_dl long"
        )

    def _stats_covered_buckets(self, v: int | None = None) -> set[str]:
        """Bucket keys the term-stats table covers at version ``v`` —
        owners PLUS partitions living only in pending merge-on-read
        appends (the refresh commits MoR; a fresh bucket's stats sit
        in pending state until maintain() localizes them, and they
        are fully readable there)."""
        man = self.term_stats_t._manifest(v)
        pending = {
            k
            for e in (man.get("merges") or [])
            for k in (e.get("parts") or [])
        }
        return live_partition_keys(man) | pending

    def _pruned_serve_inputs(
        self, qterms: DataFrame, at: dict | None = None
    ) -> dict | None:
        """The bounded driver-side inputs both MAXSCORE serves share:
        ``{"qpairs": [(query_id, term), ...], "stats": {term: (df,
        max_tf, min_dl)}}`` — or None when the stats don't cover the
        probe. Coverage is checked PER BUCKET (a term's postings
        never span buckets, and a refresh keeps a covered bucket
        complete, so a bucket key present in the stats manifest
        vouches for every term it holds). Returns None — never a
        partially-trusted result — after a truncation
        (``remove``/replace-add), for a pre-stats legacy index, for a
        snapshot pinned before the stats table existed, and in the
        mid-rebucket crash window where the two tables sit at
        different widths (the key strings then never intersect).

        Cost: ONE collect of the query-term frame and ONE
        bucket-pruned stats read — both query-batch-bounded, the same
        contract every serve path already assumes when it broadcasts
        the query side. Holding these driver-side is what keeps the
        pruned plans to a fixed small job count (selection happens in
        Python; SCORING stays in-plan with the exact path's
        expression trees)."""
        import hashlib

        if at is not None:
            v = at.get("term_stats")
            if v is None:
                return None
            v = int(v)
            pv = self._pin(at, "postings")
        else:
            # freshness record must match BOTH live versions: a
            # crashed add, a deferred-mode add, or any out-of-band
            # mutation falls back to the exact plan instead of
            # trusting silently-stale bounds
            if (
                self.term_stats_t.current_version() is None
                or not self._stats_fresh()
            ):
                return None
            v = None
            pv = None
        qpairs = [
            (r["query_id"], r["term"])
            for r in qterms.collect()
            if r["term"] is not None
        ]
        terms = sorted({t for _, t in qpairs})
        if not terms:
            return {"qpairs": qpairs, "stats": {}}
        plen = self._prefix_len(at)
        touched = {
            "term_prefix=" + hashlib.md5(t.encode()).hexdigest()[:plen]
            for t in terms
        }
        existing = live_partition_keys(self.postings_t._manifest(pv))
        probe = sorted(touched & existing)
        covered = self._stats_covered_buckets(v)
        if not set(probe) <= covered:
            return None
        tdf = (
            self.term_stats_t.read(version=v)
            if len(probe) == len(covered)
            else self.term_stats_t.read(version=v, partitions=probe)
        )
        rows = tdf.where(F.col("term").isin(terms)).collect()
        return {
            "qpairs": qpairs,
            "stats": {
                r["term"]: (r["df"], r["max_tf"], r["min_dl"])
                for r in rows
            },
        }

    def _select_pairs(
        self, qterms: DataFrame, pairs: list
    ) -> DataFrame:
        """qterms restricted to the given (query_id, term) pairs —
        selection computed driver-side, types preserved by a
        broadcast string-keyed semi-join against the ORIGINAL frame
        (the output query_id keeps the caller's type, which the
        hash-gated schema check depends on)."""
        if not pairs:
            return qterms.where(F.lit(False))
        sel = self.spark.createDataFrame(
            [(str(q), t) for q, t in pairs], "q string, t string"
        )
        return qterms.join(
            F.broadcast(sel),
            (F.col("query_id").cast("string") == F.col("q"))
            & (F.col("term") == F.col("t")),
            "left_semi",
        )

    def search_bm25(
        self, queries: DataFrame, k: int = 10, k1: float = 1.2, b: float = 0.75,
        query_id_col: str = "query_id", query_text_col: str = "query_text",
        pair_filter: DataFrame | None = None,
        at: dict | None = None,
        prune: str | bool = "auto",
        seed_df_budget: int | None = None,
    ) -> DataFrame:
        """BM25 served from the index: df per term is complete within
        the probed buckets (a term's postings never span buckets);
        N / avgdl come from the <= 256 cached ``corpus_stats`` rows —
        the serve cost is bounded by the probe, never by the corpus
        (doc_stats is not read at query time). Scores are pinned by
        tolerance tests, not a cross-engine hash — see the ln()
        portability note on :func:`bm25_topk` and SCALING.md's "BM25
        ULP" section for why. ``pair_filter`` restricts each query to
        its own allowed documents before the top-k cut; the scoring
        statistics (df, N, avgdl) stay corpus-global — the standard
        filtered-search contract, so a document scores identically
        filtered or not. ``at`` pins a :meth:`snapshot` — postings,
        df and N/avgdl all from one consistent commit point.

        ``prune="auto"`` (the default) bounds the candidate cost on
        common terms with a MAXSCORE-family two-phase plan (seed the
        rarest terms -> k-th partial score as a threshold -> split
        terms into essential/non-essential by summed upper bounds ->
        complete scores only for documents holding an essential term).
        The pruned result is EXACTLY the unpruned result — excluded
        documents are provably below the returned top-k (see
        :meth:`_bm25_pruned_frames` for the bound) — and the path is
        taken only when the term-stats coverage check passes
        (:meth:`_term_stats_probe`); otherwise, and with
        ``prune=False``/"off", the exact single-phase plan runs.
        ``seed_df_budget`` caps the seed phase's posting reads
        (default ``max(64, 4 * k)`` rarest-first postings per
        query)."""
        qterms = _query_terms(queries, query_id_col, query_text_col)
        if prune not in (False, "off"):
            inputs = self._pruned_serve_inputs(qterms, at)
            if inputs is not None:
                frames = self._bm25_pruned_frames(
                    qterms, k, k1, b, pair_filter, at, inputs,
                    seed_df_budget,
                )
                return frames["topk"]
        post = self._probed_postings(qterms, at).join(
            F.broadcast(qterms.select("term").distinct()), "term", "left_semi"
        )
        stats = self._corpus_stats(at)
        df_t = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        scored = (
            post.join(F.broadcast(qterms), "term")
            .join(F.broadcast(df_t), "term")
            .crossJoin(F.broadcast(stats))
            .withColumn("idf", _bm25_idf())
            .withColumn("w", _bm25_w(F.col("tf"), F.col("dl"), k1, b))
        )
        # pair filter BEFORE the aggregation (per-pair scores commute
        # with filtering; skips the sorted-fold agg for excluded pairs)
        agg = (
            _apply_pair_filter(scored, pair_filter)
            .groupBy("query_id", "doc_id")
            .agg(_bm25_fold().alias("score"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            agg.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "doc_id", "score", "rank")
        )

    def _blockmax_excludes(
        self,
        ess_by_q: dict,
        tstats: dict,
        theta: dict,
        ne_sum: dict,
        n_docs,
        avgdl,
        k1: float,
        b: float,
        at: dict | None = None,
    ) -> tuple[set, dict]:
        """Block-max candidate skipping: which OWNED postings files
        the CANDIDATE-GENERATION scan may drop, computed driver-side
        from the manifest's per-file (term, tf, dl) min/max stats —
        no job runs. Returns ``(exclude_paths, per_query_files)``
        where the per-query dict maps query_id -> (files whose term
        range holds one of ITS essential terms, files of those kept).

        Soundness (hash-identical top-k): a doc that fails to become
        a candidate has, for each essential term t of query q, its
        (t, doc) posting only in skipped files — contributing at most
        ``s(t) = max over skipped files of w_ub_file(t)``, where
        ``w_ub_file`` uses the FILE's tf max / dl min instead of the
        term's global extrema. Files are admitted to the skip set by
        GREEDY WATER-FILLING (ascending per-file bound): a file is
        dropped only while ``sum over E(q) of s(t) + ne_sum(q) <
        theta(q)*(1-1e-9)`` stays STRICTLY true for every query whose
        essential terms the file's [term_min, term_max] range could
        hold — an excluded doc then provably scores below the k-th
        phase-A witness, ties included, no matter how its postings
        spread over skipped files. Phase-A witnesses score >= theta
        and therefore always survive. Files without stats are never
        dropped (evidence-based, like every skipping layer); the
        COMPLETION scan never takes exclusions — candidates' full
        scores read every file, so surviving scores stay
        bit-identical. The skip only bites on impact-ordered layouts
        (``maintain`` compacts by (term, -tf), so a common term's
        low-tf tail files carry a small tf max)."""
        import hashlib
        import math

        slack: dict = {}
        term_queries: dict = {}
        for qid, terms in ess_by_q.items():
            th = theta.get(qid)
            slack[qid] = (
                th * (1.0 - 1e-9) - ne_sum.get(qid, 0.0)
                if th is not None
                else 0.0
            )
            for t in terms:
                term_queries.setdefault(t, []).append(qid)
        if not term_queries or all(v <= 0.0 for v in slack.values()):
            return set(), {}, {}, {}

        v = self._pin(at, "postings") if at is not None else None
        man = self.postings_t._manifest(v)
        stats = man.get("stats") or {}
        owners = man["owners"]
        plen = self._prefix_len(at)

        def w_ub_file(t: str, tf_max, dl_min) -> float:
            if not tf_max:
                # committed postings carry tf >= 1, but guard the
                # same b=1.0 zero denominator as w_ub (r13 ADVICE #2)
                return 0.0
            df = tstats[t][0]
            idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
            return (
                idf
                * (tf_max * (k1 + 1.0))
                / (tf_max + k1 * (1.0 - b + b * dl_min / avgdl))
            )

        by_bucket: dict = {}
        for t in term_queries:
            key = (
                "term_prefix="
                + hashlib.md5(t.encode()).hexdigest()[:plen]
            )
            by_bucket.setdefault(key, []).append(t)
        cands: list = []  # (max bound, path, {term: bound})
        file_terms: dict = {}  # abs path -> essential terms in range
        for key, terms in by_bucket.items():
            tok = owners.get(key)
            if tok is None:
                continue
            prefix = f"{tok}/{key}/"
            for rel, st in stats.items():
                if not rel.startswith(prefix):
                    continue
                trange, tfs, dls = (
                    st.get("term"), st.get("tf"), st.get("dl")
                )
                mine = (
                    [t for t in terms if trange[0] <= t <= trange[1]]
                    if trange
                    else []
                )
                if not mine:
                    continue
                full = os.path.join(
                    self.postings_t._vdir(tok), key, rel[len(prefix):]
                )
                file_terms[full] = mine
                if not tfs or not dls:
                    continue  # no evidence: keep
                bounds = {
                    t: w_ub_file(t, tfs[1], dls[0]) for t in mine
                }
                cands.append((max(bounds.values()), full, bounds))
        # greedy water-filling: cheapest files first; admit one only
        # while every query's exclusion invariant stays strict
        s: dict = {}
        exclude: set = set()
        for _, full, bounds in sorted(cands, key=lambda x: (x[0], x[1])):
            new_s = {t: max(s.get(t, 0.0), wb) for t, wb in bounds.items()}
            ok = True
            for t in bounds:
                for qid in term_queries[t]:
                    tot = sum(
                        new_s.get(u, s.get(u, 0.0))
                        for u in ess_by_q[qid]
                    )
                    if not tot < slack[qid]:
                        ok = False
                        break
                if not ok:
                    break
            if ok:
                exclude.add(full)
                s.update(new_s)
        # ---- row-group level (the r13 verdict's #4): kept files
        # still decode every row group; raise individual terms' skip
        # bound further with per-term IMPACT CUTOFFS chosen from the
        # kept files' per-row-group footer stats. A cutoff c_t drops
        # rows (term = t AND tf <= c_t) from the CANDIDATE scan as a
        # scan-level predicate — on the impact-ordered layout those
        # rows fill whole trailing row groups of t's run, which
        # parquet's row-group pruning then never decodes. Soundness
        # is the same water-fill invariant with the per-term bound
        # now max(file-skip bound, w_ub(tf=c_t, dl=min_dl_t)): a doc
        # absent from the candidates has EVERY essential posting in
        # an excluded file or a cut range, so its score is provably
        # under theta; the completion scan still reads everything,
        # keeping surviving scores bit-identical.
        kept = sorted(set(file_terms) - exclude)
        rg = self.postings_t.row_group_stats(kept, ("term", "tf"))
        cut_cands: list = []  # (bound, term, cutoff, rows)
        for path in kept:
            for g in rg.get(path, []):
                trange, tfr = g.get("term"), g.get("tf")
                if not trange or not tfr or trange[0] != trange[1]:
                    continue  # multi-term or evidence-less group: keep
                t = trange[0]
                if t not in term_queries:
                    continue
                cut_cands.append(
                    (
                        w_ub_file(t, tfr[1], tstats[t][2]),
                        t,
                        int(tfr[1]),
                        int(g["rows"]),
                    )
                )
        cuts: dict = {}
        rg_rows_cut: dict = {}
        for wb, t, c, nrows in sorted(cut_cands):
            if cuts.get(t, -1) >= c:
                # a larger admitted cutoff already covers this group
                rg_rows_cut[t] = rg_rows_cut.get(t, 0) + nrows
                continue
            new_t = max(s.get(t, 0.0), wb)
            ok = True
            for qid in term_queries[t]:
                tot = sum(
                    (new_t if u == t else s.get(u, 0.0))
                    for u in ess_by_q[qid]
                )
                if not tot < slack[qid]:
                    ok = False
                    break
            if ok:
                cuts[t] = c
                s[t] = new_t
                rg_rows_cut[t] = rg_rows_cut.get(t, 0) + nrows
        per_query: dict = {}
        for qid, terms in ess_by_q.items():
            ts = set(terms)
            fs = [
                p for p, mine in file_terms.items() if ts & set(mine)
            ]
            per_query[qid] = (
                len(fs),
                sum(1 for p in fs if p not in exclude),
            )
        return exclude, per_query, cuts, rg_rows_cut

    def _bm25_pruned_frames(
        self,
        qterms: DataFrame,
        k: int,
        k1: float,
        b: float,
        pair_filter: DataFrame | None,
        at: dict | None,
        inputs: dict,
        seed_df_budget: int | None = None,
    ) -> dict:
        """The max-score pruned BM25 pipeline. SELECTION (seed terms,
        the essential/non-essential split) happens DRIVER-SIDE over
        the bounded collected inputs — a fixed small job count per
        serve (one theta aggregation plus the returned completion
        plan), instead of a cascade of stats-scan subplans; SCORING
        stays in-plan with the exact path's expression trees, so
        surviving rows are bit-identical. Exactness argument:

        - ``w_ub(t) = idf(df_t) * w(max_tf_t, min_dl_t)`` bounds every
          document's per-term contribution (the weight is monotone up
          in tf, down in dl; df/max_tf/min_dl are exact under the
          coverage check — adds refresh touched buckets in the same
          ``add`` call, removals truncate the stats wholesale).
        - Phase A scores ONLY the per-query rarest terms (ascending
          df until ``seed_df_budget`` postings); ``theta`` = the k-th
          best partial score, a lower bound on the k-th best FULL
          score (partials only undercount).
        - Non-essential terms: the maximal ascending-``w_ub`` prefix
          whose inclusive running sum stays strictly below
          ``theta * (1 - 1e-9)`` (the margin absorbs float-rounding
          slack, including the Python-vs-JVM libm ULP in the
          driver-computed bounds — theta itself is collected from the
          Spark aggregation, so the threshold side is engine-exact).
          A document containing no essential term scores at most that
          sum < theta, while at least k documents (phase A's
          witnesses) score >= theta: excluded documents can never
          reach the top k, ties included.
        - Completion re-scores candidate documents over ALL query
          terms (df from the stats longs, same sorted fold) — the
          common terms' O(df) posting rows die at the candidate
          semi-join instead of feeding the aggregation."""
        import math

        budget = int(seed_df_budget) if seed_df_budget else max(64, 4 * k)
        qpairs, tstats = inputs["qpairs"], inputs["stats"]
        stats = self._corpus_stats(at)
        cs_rows = stats.collect()
        n_docs = cs_rows[0]["n_docs"] if cs_rows else None
        avgdl = cs_rows[0]["avgdl"] if cs_rows else None

        byq: dict = {}
        for qid, t in qpairs:
            if t in tstats:
                byq.setdefault(qid, []).append(t)

        def w_ub(t: str) -> float:
            df, max_tf, min_dl = tstats[t]
            if max_tf == 0:
                # fully-removed term: _refresh_term_stats_for_terms
                # writes an explicit (df=0, max_tf=0, min_dl=0) row;
                # its true contribution is 0 and at b=1.0 the
                # denominator below would be exactly 0 (r13 ADVICE #2)
                return 0.0
            idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
            return (
                idf
                * (max_tf * (k1 + 1.0))
                / (max_tf + k1 * (1.0 - b + b * min_dl / avgdl))
            )

        seed_pairs: list = []
        seeds_by_q: dict = {}
        for qid, terms in byq.items():
            run = 0
            chosen = []
            for i, t in enumerate(
                sorted(terms, key=lambda t: (tstats[t][0], t))
            ):
                df = tstats[t][0]
                if i == 0 or run + df <= budget:
                    chosen.append(t)
                    run += df
                else:
                    run += df
            seeds_by_q[qid] = chosen
            seed_pairs.extend((qid, t) for t in chosen)

        seedf = self._select_pairs(qterms, seed_pairs)
        seed_terms = sorted({t for _, t in seed_pairs})
        partial = (
            _apply_pair_filter(
                self._probed_postings_for(seed_terms, at)
                .join(F.broadcast(seedf), "term")
                .join(
                    F.broadcast(
                        self.spark.createDataFrame(
                            [(t, int(tstats[t][0])) for t in seed_terms]
                            or [],
                            "term string, df long",
                        )
                    ),
                    "term",
                )
                .crossJoin(F.broadcast(stats))
                .withColumn("idf", _bm25_idf())
                .withColumn("w", _bm25_w(F.col("tf"), F.col("dl"), k1, b)),
                pair_filter,
            )
            .groupBy("query_id", "doc_id")
            .agg(_bm25_fold().alias("pscore"))
        )
        wk = Window.partitionBy("query_id").orderBy(
            F.desc("pscore"), F.asc("doc_id")
        )
        theta = {
            r["query_id"]: r["pscore"]
            for r in partial.withColumn("rn", F.row_number().over(wk))
            .where(F.col("rn") == k)
            .select("query_id", "pscore")
            .collect()
        }

        ess_pairs: list = []
        ne_count: dict = {}
        ne_sum: dict = {}
        ess_by_q: dict = {}
        for qid, terms in byq.items():
            th = theta.get(qid, 0.0)
            cum = 0.0
            ne = 0
            for t in sorted(terms, key=lambda t: (w_ub(t), t)):
                if cum + w_ub(t) < th * (1.0 - 1e-9):
                    cum += w_ub(t)
                    ne += 1
                else:
                    break
            ordered = sorted(terms, key=lambda t: (w_ub(t), t))
            ess_pairs.extend((qid, t) for t in ordered[ne:])
            ne_count[qid] = ne
            ne_sum[qid] = cum  # sum of the ne non-essential bounds
            ess_by_q[qid] = ordered[ne:]

        all_terms = sorted({t for _, t in qpairs if t in tstats})
        post_all = self._probed_postings_for(all_terms, at)
        # candidate generation probes ONLY the essential terms'
        # buckets/files (the non-essential rows would die at the essf
        # join anyway), with the block-max file skip on top — the
        # completion below keeps the full unskipped probe, so
        # candidate scores stay bit-identical
        ess_terms = sorted({t for _, t in ess_pairs})
        excl, bm_files, tf_cuts, rg_rows_cut = self._blockmax_excludes(
            ess_by_q, tstats, theta, ne_sum, n_docs, avgdl, k1, b, at
        )
        post_ess = self._probed_postings_for(
            ess_terms, at, exclude_files=excl or None
        )
        if tf_cuts:
            # the per-term impact cutoffs (row-group block-max): rows
            # (term = t AND tf <= c_t) are provably below every
            # query's threshold, so drop them from candidate
            # discovery; pushed to the scan, parquet row-group stats
            # prune whole trailing groups of the impact-ordered runs
            pred = F.lit(True)
            for t, c in sorted(tf_cuts.items()):
                pred = pred & (
                    (F.col("term") != F.lit(t)) | (F.col("tf") > F.lit(c))
                )
            post_ess = post_ess.where(pred)
        essf = self._select_pairs(qterms, ess_pairs)
        cand = _apply_pair_filter(
            post_ess.join(F.broadcast(essf), "term").select(
                "query_id", "doc_id"
            ),
            pair_filter,
        ).distinct()
        dff = self.spark.createDataFrame(
            [(t, int(tstats[t][0])) for t in all_terms] or [],
            "term string, df long",
        )
        # completion: full scores for candidates only — common terms'
        # posting rows die at this semi-join instead of feeding the
        # sorted-fold aggregation (no broadcast hint on cand: its size
        # is data-dependent, AQE picks the strategy at runtime)
        full = (
            post_all.join(F.broadcast(qterms), "term")
            .join(F.broadcast(dff), "term")
            .join(cand, ["query_id", "doc_id"], "left_semi")
            .crossJoin(F.broadcast(stats))
            .withColumn("idf", _bm25_idf())
            .withColumn("w", _bm25_w(F.col("tf"), F.col("dl"), k1, b))
        )
        agg = (
            _apply_pair_filter(full, pair_filter)
            .groupBy("query_id", "doc_id")
            .agg(_bm25_fold().alias("score"))
        )
        wr = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        topk = (
            agg.withColumn("rank", F.row_number().over(wr))
            .where(F.col("rank") <= k)
            .select("query_id", "doc_id", "score", "rank")
        )
        return {
            "byq": byq,
            "seeds_by_q": seeds_by_q,
            "theta": theta,
            "ne_count": ne_count,
            "stats": tstats,
            "candidates": cand,
            "post_all": post_all,
            "qterms": qterms,
            "topk": topk,
            # block-max observability: per-query (files whose term
            # range holds an essential term, files of those kept)
            "blockmax_files": bm_files,
            "blockmax_excluded": len(excl),
            "blockmax_paths": excl,
            # row-group block-max: per-term impact cutoffs and the
            # rows in provably-cut single-term row groups
            "blockmax_tf_cuts": tf_cuts,
            "blockmax_rg_rows_cut": rg_rows_cut,
            "ess_by_q": ess_by_q,
        }

    def bm25_prune_report(
        self, queries: DataFrame, k: int = 10,
        k1: float = 1.2, b: float = 0.75,
        query_id_col: str = "query_id", query_text_col: str = "query_text",
        at: dict | None = None,
        seed_df_budget: int | None = None,
    ) -> DataFrame:
        """Observability for the pruned serve: one row per query —
        (query_id, n_terms, n_seed, n_essential, rows_full,
        rows_seed, rows_completed, n_candidates). ``rows_full`` is
        what the UNpruned plan aggregates (the summed df of every
        query term); ``rows_seed + rows_completed`` is what the pruned
        plan aggregates instead — the ratio is the candidate-cost
        shrink the max-score split bought. Runs real jobs (it counts
        the completion frames); raises if the stats don't cover the
        probe, since there is then no pruned plan to report on."""
        qterms = _query_terms(queries, query_id_col, query_text_col)
        inputs = self._pruned_serve_inputs(qterms, at)
        if inputs is None:
            raise ValueError(
                "term stats do not cover this probe (truncated by a "
                "remove/replace-add, legacy index, or pre-stats "
                "snapshot) — run refresh_term_stats() first"
            )
        fr = self._bm25_pruned_frames(
            qterms, k, k1, b, None, at, inputs, seed_df_budget
        )
        tstats = fr["stats"]
        cand_counts = {
            r["query_id"]: r["n"]
            for r in fr["candidates"]
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        comp_counts = {
            r["query_id"]: r["n"]
            for r in fr["post_all"]
            .join(F.broadcast(fr["qterms"]), "term")
            .join(fr["candidates"], ["query_id", "doc_id"], "left_semi")
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        rows = []
        for qid, terms in sorted(fr["byq"].items(), key=lambda x: str(x[0])):
            seeds = fr["seeds_by_q"].get(qid, [])
            bm = fr["blockmax_files"].get(qid, (0, 0))
            rows.append(
                (
                    qid,
                    len(terms),
                    len(seeds),
                    len(terms) - fr["ne_count"].get(qid, 0),
                    int(sum(tstats[t][0] for t in terms)),
                    int(sum(tstats[t][0] for t in seeds)),
                    int(comp_counts.get(qid, 0)),
                    int(cand_counts.get(qid, 0)),
                    int(bm[0]),
                    int(bm[1]),
                )
            )
        qtype = dict(fr["qterms"].dtypes).get("query_id", "string")
        return self.spark.createDataFrame(
            rows,
            f"query_id {qtype}, n_terms long, n_seed long, "
            "n_essential long, rows_full long, rows_seed long, "
            "rows_completed long, n_candidates long, "
            "files_essential long, files_essential_kept long",
        )

    def skip_report(
        self, queries: DataFrame, k: int = 10,
        k1: float = 1.2, b: float = 0.75,
        query_id_col: str = "query_id", query_text_col: str = "query_text",
        at: dict | None = None,
        seed_df_budget: int | None = None,
    ) -> DataFrame:
        """The skipping stack as an observable contract (the r12
        verdict's #7 ask): one row per query showing what each
        pruning layer would drop from THIS pruned BM25 serve's
        candidate scan — (partition layer) buckets_total vs
        buckets_probed, then within the probed buckets of the
        query's ESSENTIAL terms (file layer) files_total vs
        files_kept with the per-layer skip counts: manifest term
        min/max (``files_minmax_skipped``, tight after a term-sorted
        ``maintain``), parquet bloom probes
        (``files_bloom_skipped``, only on ``term_bloom`` tables),
        and the block-max impact bound
        (``files_blockmax_excluded``). ``pending_appends`` counts
        merge-on-read entries the scan must always resolve — the
        read tax ``maintain()`` drains. Row-group stats skip INSIDE
        kept files at execution time (a Spark-side layer this
        driver-side report cannot count).

        Selection is recomputed driver-side from the manifest (the
        same code path the real read takes); the only job is phase
        A's theta aggregation. Raises when the stats don't cover the
        probe — there is then no pruned plan to report on. The
        corpus-derived columns (n_terms, rows_full, buckets_*) are
        layout-independent — the driver gate ``q_skip_report``
        hash-checks them against a relational oracle; the file-layer
        columns depend on physical layout and are pinned by pytest
        instead."""
        import hashlib

        qterms = _query_terms(queries, query_id_col, query_text_col)
        inputs = self._pruned_serve_inputs(qterms, at)
        if inputs is None:
            raise ValueError(
                "term stats do not cover this probe (truncated by a "
                "remove/replace-add, legacy index, or pre-stats "
                "snapshot) — run refresh_term_stats() first"
            )
        fr = self._bm25_pruned_frames(
            qterms, k, k1, b, None, at, inputs, seed_df_budget
        )
        tstats = fr["stats"]
        v = self._pin(at, "postings") if at is not None else None
        man = self.postings_t._manifest(v)
        existing = live_partition_keys(man)
        plen = self._prefix_len(at)
        pending = len(man.get("merges") or [])
        # ALL query terms probe buckets (absent terms can still hash
        # into an existing bucket — the serve lists it, finds no rows)
        all_terms_by_q: dict = {}
        for qid, t in inputs["qpairs"]:
            all_terms_by_q.setdefault(qid, set()).add(t)

        def lit(t: str) -> str:
            escaped = t.replace("\\", "\\\\").replace("'", "\\'")
            return f"'{escaped}'"

        rows = []
        for qid, terms in sorted(fr["byq"].items(), key=lambda x: str(x[0])):
            probed = {
                "term_prefix="
                + hashlib.md5(t.encode()).hexdigest()[:plen]
                for t in all_terms_by_q.get(qid, set())
            } & existing
            ess = fr["ess_by_q"].get(qid, [])
            ess_probed = sorted(
                {
                    "term_prefix="
                    + hashlib.md5(t.encode()).hexdigest()[:plen]
                    for t in ess
                }
                & existing
            )
            conjs = (
                _parse_conjuncts(
                    "term IN ({})".format(
                        ", ".join(lit(t) for t in sorted(ess))
                    )
                )
                if ess and len(ess) <= self._TERM_PUSHDOWN_MAX
                else []
            )
            _, sel = self.postings_t._select_files(
                man, ess_probed, conjs,
                exclude_files=fr["blockmax_paths"] or None,
            )
            rows.append(
                (
                    qid,
                    len(terms),
                    int(sum(tstats[t][0] for t in terms)),
                    len(existing),
                    len(probed),
                    int(sel["files_total"]),
                    int(sel["files_scanned"]),
                    int(sel["files_stats_skipped"]),
                    int(sel["files_bloom_skipped"]),
                    int(sel["files_excluded"]),
                    pending,
                    # row-group layer (r13 verdict #4): rows in KEPT
                    # files' provably-cut row groups for this query's
                    # essential terms — decoded by neither candidate
                    # scan nor parquet (the impact-cutoff predicate
                    # prunes those groups), driver-side from footers
                    int(
                        sum(
                            fr["blockmax_rg_rows_cut"].get(t, 0)
                            for t in ess
                        )
                    ),
                )
            )
        qtype = dict(fr["qterms"].dtypes).get("query_id", "string")
        return self.spark.createDataFrame(
            rows,
            f"query_id {qtype}, n_terms long, rows_full long, "
            "buckets_total long, buckets_probed long, "
            "files_total long, files_kept long, "
            "files_minmax_skipped long, files_bloom_skipped long, "
            "files_blockmax_excluded long, pending_appends long, "
            "rows_rg_cut long",
        )

def phrase_search(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
) -> DataFrame:
    """Exact PHRASE matching: (query_id, doc_id, n_occurrences, rank)
    for documents containing the query's tokens ADJACENTLY and in
    order; occurrences may overlap (every start offset is tested, the
    shingle convention). Integer-exact end to end.

    Two-phase execution (the classic positional-index shape): phase 1
    intersects postings — only documents containing ALL the phrase's
    distinct terms survive, found via the same broadcast semi-filter
    as the rankers, so the corpus is never window-scanned; phase 2
    verifies adjacency on the candidates only, as a pure expression
    (indexed ``transform`` + ``slice`` window compare — per candidate
    row, no join on positions)."""
    qp = queries.select(
        F.col(query_id_col).alias("query_id"),
        _tokens(query_text_col).alias("phrase"),
    ).where(F.size("phrase") > 0)
    qterms = qp.select(
        "query_id", F.explode(F.array_distinct("phrase")).alias("term")
    ).distinct()
    n_terms = qp.select(
        "query_id", F.size(F.array_distinct("phrase")).alias("n_terms")
    )
    cand = (
        _matched_postings(docs, qterms, id_col, text_col)
        .join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("nm"))
        .join(F.broadcast(n_terms), "query_id")
        .where(F.col("nm") == F.col("n_terms"))
        .select("query_id", "doc_id")
    )
    toks = docs.select(
        F.col(id_col).alias("doc_id"), _tokens(text_col).alias("w")
    )
    m = F.size("phrase")
    verified = (
        cand.join(F.broadcast(qp), "query_id")
        .join(toks, "doc_id")
        .withColumn(
            "n_occurrences",
            F.size(
                F.filter(
                    F.transform(
                        F.col("w"),
                        lambda x, i: F.when(
                            i + m <= F.size("w"),
                            F.slice(F.col("w"), i + 1, m),
                        ),
                    ),
                    lambda s: s.isNotNull() & (s == F.col("phrase")),
                )
            ),
        )
        .where(F.col("n_occurrences") > 0)
        .select("query_id", "doc_id", "n_occurrences")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_occurrences"), F.asc("doc_id")
    )
    return (
        verified.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "n_occurrences", "rank")
    )


def rrf_fuse(
    rankings: list[DataFrame], k: int = 10, c: float = 60.0
) -> DataFrame:
    """Reciprocal-rank fusion of any number of (query_id, doc_id,
    rank) rankings: score = sum over lists of 1 / (c + rank), rank
    counted only where the document appears (the standard union-RRF;
    c=60 per Cormack et al.). The hybrid-retrieval combiner — lexical
    and vector rankings fuse without score calibration because only
    RANKS enter.

    Engine-exact by construction: each contribution is one IEEE
    division of exact integers and the per-document sum folds the
    VALUE-SORTED contributions, so the fused scores (not just the
    order) reproduce bit-for-bit."""
    from functools import reduce

    tagged = [
        r.select(
            "query_id",
            "doc_id",
            (F.lit(1.0) / (F.lit(c) + F.col("rank").cast("double"))).alias(
                "contrib"
            ),
        )
        for r in rankings
    ]
    allr = reduce(lambda a, b: a.unionByName(b), tagged)
    fused = allr.groupBy("query_id", "doc_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list("contrib")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("score"),
        F.count(F.lit(1)).alias("n_lists"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "n_lists", "rank")
    )


def hybrid_search_indexed(
    postings_index: "PostingsIndex",
    ivf_index,
    queries: DataFrame,
    k: int = 10,
    k_each: int = 20,
    n_probe: int = 4,
    c: float = 60.0,
    lexical: str = "bm25",
    k1: float = 1.2,
    b: float = 0.75,
    quantized: bool = False,
    rescore_factor: int = 4,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    query_vec_col: str = "query_vec",
    pair_filter: DataFrame | None = None,
    at_lexical: dict | None = None,
    at_vector: dict | None = None,
    at: dict | None = None,
) -> DataFrame:
    """Hybrid retrieval SERVED entirely from the two persistent
    indexes: the lexical ranking comes from the postings index
    (``lexical='bm25'`` — probed term buckets + cached corpus stats —
    or ``'keyword'`` for the integer-exact coordination layer) and the
    vector ranking from the IVF index (probed ``list_id`` partitions),
    each top ``k_each`` per query, fused by reciprocal-rank fusion
    (:func:`rrf_fuse`) into the final top ``k``.

    This is the scale-shaped composition of the batch
    ``q_hybrid_search`` demo: neither side touches the corpus — the
    read set is the query terms' buckets plus the probed inverted
    lists, both structurally pruned, and the joins are broadcast/
    equi-joins (no nested loop). ``queries`` carries an id, the query
    text, and the query embedding (``query_vec_col``); only ranks
    cross into the fusion, so the fused scores are engine-exact
    regardless of which lexical scorer ran. ``quantized=True`` runs
    the vector side through the int8 candidate phase + exact rescore
    (:meth:`IVFIndex.search_quantized`) — same answers whenever the
    true top-``k_each`` survives the ``rescore_factor`` margin, at
    ~1/8 the probe bytes. ``pair_filter`` is a per-query
    (query_id, doc_id) allow frame applied to BOTH modalities before
    their top-``k_each`` cuts, so the fusion ranks within each
    query's own allowed set — per-tenant / per-language filtered
    hybrid retrieval. ``at_lexical`` / ``at_vector`` pin each index's
    :meth:`snapshot` so the whole hybrid serve is version-stable;
    ``at`` takes a COMBINED pin instead — the
    ``{"lexical": ..., "vector": ...}`` dict
    :func:`~datalake_toolkit_spark.llm.sync.sync_search_plane` /
    ``search_plane_snapshot`` return — so both modalities are
    guaranteed to serve ONE mutually consistent corpus state (the
    per-side params can silently fuse two different states during
    maintenance; prefer ``at``)."""
    if lexical not in ("bm25", "keyword"):
        raise ValueError(f"lexical must be bm25|keyword, got {lexical!r}")
    if at is not None:
        if at_lexical is not None or at_vector is not None:
            raise ValueError(
                "pass either the combined at= pin or at_lexical/"
                "at_vector, not both"
            )
        if "lexical" not in at or "vector" not in at:
            raise ValueError(
                "a combined at= pin must carry 'lexical' and 'vector' "
                f"keys (got {sorted(at)}) — use sync_search_plane() / "
                "search_plane_snapshot()"
            )
        at_lexical, at_vector = at["lexical"], at["vector"]
    qtext = queries.select(query_id_col, query_text_col)
    if lexical == "bm25":
        lex = postings_index.search_bm25(
            qtext, k=k_each, k1=k1, b=b,
            query_id_col=query_id_col, query_text_col=query_text_col,
            pair_filter=pair_filter, at=at_lexical,
        )
    else:
        lex = postings_index.search(
            qtext, k=k_each,
            query_id_col=query_id_col, query_text_col=query_text_col,
            pair_filter=pair_filter, at=at_lexical,
        )
    qvec = queries.select(
        F.col(query_id_col).alias(ivf_index.id_col),
        F.col(query_vec_col).alias(ivf_index.vec_col),
    )
    vec = (
        ivf_index.search_quantized(
            qvec, k=k_each, n_probe=n_probe,
            rescore_factor=rescore_factor, exclude_self=False,
            pair_filter=pair_filter, at=at_vector,
        )
        if quantized
        else ivf_index.search(
            qvec, k=k_each, n_probe=n_probe, exclude_self=False,
            pair_filter=pair_filter, at=at_vector,
        )
    ).select(
        F.col("qid").alias("query_id"),
        F.col("cid").alias("doc_id"),
        "rank",
    )
    return rrf_fuse(
        [lex.select("query_id", "doc_id", "rank"), vec], k=k, c=c
    )


def _index_phrase_verified(
    index: "PostingsIndex", queries: DataFrame,
    query_id_col: str, query_text_col: str,
    at: dict | None = None, slop: int = 0,
) -> DataFrame:
    """(query_id, doc_id, n_occurrences) for every document whose
    STORED positions contain the query phrase — adjacently at
    ``slop=0``, else as an ordered proximity match: terms in phrase
    order with at most ``slop`` extra tokens interleaved in total
    (span - phrase_len <= slop, the Lucene ordered-sloppy contract).
    Occurrences count distinct starting positions of term 1 whose
    GREEDY chain (each next term at its smallest position after the
    previous) fits the budget — greedy minimizes the span for a fixed
    start, so 'exists a chain' and 'greedy chain fits' coincide and
    the count is deterministic. The unranked core shared by
    :meth:`PostingsIndex.search_phrase` (which ranks and cuts top-k)
    and index-served decontamination (which needs EVERY match per
    probe phrase)."""
    qp = queries.select(
        F.col(query_id_col).alias("query_id"),
        _tokens(query_text_col).alias("phrase"),
    ).where(F.size("phrase") > 0)
    qterms = qp.select(
        "query_id", F.explode(F.array_distinct("phrase")).alias("term")
    ).distinct()
    n_terms = qp.select(
        "query_id", F.size(F.array_distinct("phrase")).alias("n_terms")
    )
    grouped = (
        index._probed_postings(qterms, at)
        .join(F.broadcast(qterms), "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("term", "positions"))
            ).alias("tpos"),
            F.count(F.lit(1)).alias("nm"),
        )
        .join(F.broadcast(n_terms), "query_id")
        .where(F.col("nm") == F.col("n_terms"))
    )
    m = F.size("phrase")
    first = F.element_at(F.col("tpos"), F.element_at(F.col("phrase"), 1))
    if slop == 0:
        matched = F.size(
            F.filter(
                first,
                lambda p: F.forall(
                    F.sequence(F.lit(1), m - 1),
                    lambda j: F.array_contains(
                        F.element_at(
                            F.col("tpos"),
                            F.element_at(F.col("phrase"), j + 1),
                        ),
                        p + j,
                    ),
                ),
            )
        )
    else:
        # greedy chain end for a start p: fold j = 2..m, each step the
        # smallest stored position of term_j strictly after the
        # accumulator (F.get is null out-of-range, so a broken chain
        # propagates null); match iff end - p - (m-1) <= slop
        def _chain_end(p):
            return F.aggregate(
                F.sequence(F.lit(2), m),
                p,
                lambda acc, j: F.get(
                    F.filter(
                        F.element_at(
                            F.col("tpos"), F.element_at(F.col("phrase"), j)
                        ),
                        lambda q: q > acc,
                    ),
                    F.lit(0),
                ),
            )

        matched = F.size(
            F.filter(
                F.transform(
                    first,
                    lambda p: F.struct(
                        p.alias("p"), _chain_end(p).alias("e")
                    ),
                ),
                lambda s: s["e"].isNotNull()
                & ((s["e"] - s["p"] - (m - 1)) <= F.lit(slop)),
            )
        )
    return (
        grouped.join(F.broadcast(qp), "query_id")
        .withColumn(
            "n_occurrences",
            F.when(m == 1, F.size(first)).otherwise(matched),
        )
        .where(F.col("n_occurrences") > 0)
        .select("query_id", "doc_id", "n_occurrences")
    )


def _index_phrase_search(index: "PostingsIndex", queries: DataFrame,
                         k: int, query_id_col: str, query_text_col: str,
                         at: dict | None = None, slop: int = 0) -> DataFrame:
    verified = _index_phrase_verified(
        index, queries, query_id_col, query_text_col, at, slop=slop
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_occurrences"), F.asc("doc_id")
    )
    return (
        verified.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "n_occurrences", "rank")
    )
