"""Hybrid retrieval: BM25 lexical scoring + vector ranking, RRF-fused.

The serving-side counterpart of the corpus-prep stack: given query
documents, rank corpus documents by Okapi BM25 over the token tables,
by embedding cosine (the existing kNN path), and fuse the two lists
with reciprocal-rank fusion (RRF, Cormack et al. SIGIR'09:
``score(d) = Σ_lists 1/(C + rank_list(d))``).

Scale shape: the corpus-side postings/term tables are built once with
map-side-combinable aggregations; the query side is bounded and
broadcast; candidate generation is an equi-join on the term, so only
documents sharing a query term are ever scored (no corpus cross join).

Determinism contract (repo rules): BM25 term contributions are
quantized to DECIMAL(28,8) before the per-document sum (float sums are
partition-order dependent; decimal sums are exact), the final score is
one terminal ROUND→DOUBLE, and every rank carries an id tie-break. RRF
adds exactly two coalesced terms in a fixed expression order — no float
aggregation anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_stream_spark.operators.text_analysis import tokens

K1 = 1.2
B = 0.75
RRF_C = 60


def query_terms(queries: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Distinct (query_id, t) pairs — the bounded broadcast side of
    every lexical retrieval path."""
    return queries.select(
        F.col(id_col).alias("query_id"), F.explode(tokens(text_col)).alias("t")
    ).distinct()


def _bm25_rank(
    qterms: DataFrame,
    tf: DataFrame,
    dl: DataFrame,
    k: int,
    id_col: str,
) -> DataFrame:
    """Shared BM25 scoring over prepared postings: ``tf`` (id, t, tf)
    and ``dl`` (id, dl) describe the CURRENT corpus; ``qterms`` is the
    bounded (query_id, t) set. Everything downstream — exact-integer
    corpus stats, query-pruned document frequencies, decimal-quantized
    term contributions, deterministic ranks — is identical whether the
    postings came from a raw-text scan (:func:`bm25_topk`) or the
    persisted incremental index (:class:`PostingsIndex`)."""
    # exact-integer corpus stats (no float aggregation — the repo's
    # determinism rule): the average length enters the formula as
    # dl * n_docs / sum_dl, evaluated per-row in doubles
    stats = F.broadcast(
        dl.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("dl").cast("long").alias("sum_dl"),
        )
    )
    # Document frequency is only needed for terms that appear in some
    # query, so semi-join the postings to the bounded query-term set
    # BEFORE aggregating: at 100 TB the full vocabulary is 10^8-10^9
    # terms (unbroadcastable), while the surviving dfreq is bounded by
    # |query terms| — broadcastable by construction. df values are
    # unchanged (each surviving term still counts every corpus posting).
    dfreq = (
        tf.join(F.broadcast(qterms.select("t").distinct()), "t", "left_semi")
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("df"))
    )

    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    rel_len = F.col("dl").cast("double") * F.col("n_docs") / F.col("sum_dl")
    tf_norm = (F.col("tf") * (K1 + 1)) / (
        F.col("tf") + K1 * (1 - B + B * rel_len)
    )
    contrib = (
        F.broadcast(qterms)
        .join(tf, "t")
        .filter(F.col(id_col) != F.col("query_id"))
        .join(dl, id_col)
        .join(F.broadcast(dfreq), "t")
        .join(stats)
        .select(
            "query_id",
            id_col,
            F.round(idf * tf_norm, 8).cast("decimal(28,8)").alias("_c"),
        )
    )
    scored = contrib.groupBy("query_id", id_col).agg(
        F.round(F.sum("_c").cast("decimal(38,8)"), 6).cast("double").alias("bm25_score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25_score").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("bm25_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("bm25_rank") <= k)
        .select("query_id", id_col, "bm25_score", "bm25_rank")
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k corpus documents per query document by Okapi BM25.

    ``queries`` must be bounded (its distinct terms are broadcast into
    the postings join). Self-matches are excluded. Returns
    (query_id, doc_id, bm25_score, bm25_rank).
    """
    toks = docs.select(F.col(id_col), F.explode(tokens(text_col)).alias("t"))
    # One corpus pass, not four: tf is consumed THREE times downstream
    # (dfreq semi-join, contrib join, and dl below) and dl twice (stats,
    # contrib) — unsevered, the tokenize+explode+aggregate subtree
    # re-ran once per consumer (hybrid_search_rrf's before-plan scanned
    # documents 4× through this path; plans/r09). The ≥3-consumer lazy
    # checkpoint (repo discipline) materializes the narrow (id, t, tf)
    # frame once; dl = Σ tf per doc is exactly the token count (same
    # integers, same types), now a cheap re-aggregation of the severed
    # frame instead of its own corpus scan.
    tf = (
        toks.groupBy(id_col, "t")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    return _bm25_rank(query_terms(queries, id_col, text_col), tf, dl, k, id_col)


TERM_BUCKET_COL = "_tb"
GEN_COL = "_gen"


class PostingsIndex:
    """Persisted, incrementally-maintained lexical (BM25) index — the
    text twin of :class:`~etl_stream_spark.operators.vector_index.IvfIndex`.

    Layout under ``path``:

    * ``postings/`` — (doc_id, t, tf, generation) rows partitioned by a
      TERM hash bucket (``_tb=NN``): a search lists only the buckets its
      query terms hash to — partition pruning before IO, so per-batch
      read cost is bounded by |query terms|, never the corpus. Upserts
      do NOT pay the partitionBy committer: they append one flat file
      set to ``postings/_l0/`` (the merge-on-read L0 recipe — measured
      ~4× cheaper than a many-directory committer for identical bytes),
      and a counter-gated drain folds L0 into the bucket layout every
      ``compact_threshold`` appends. Readers union the pruned bucket
      dirs with the (bounded, ≤ threshold appends) L0 scan;
    * ``fwd/`` — the forward index (doc_id → dl, doc_gen) on the
      bucket-pruned :class:`~etl_stream_spark.cdc.merge.ParquetMergeTable`
      with delete tombstones. It is the source of truth for liveness:
      a posting row counts only when its generation EQUALS the doc's
      current generation, so re-upserted documents shed the terms they
      no longer contain and removed documents vanish — without ever
      locating their old posting rows (compaction reclaims the space
      later). The fwd side is narrow (three 8-byte columns), which is
      what makes the per-search liveness join affordable at scale.

    Search scoring is byte-identical to :func:`bm25_topk` (shared
    ``_bm25_rank``): an index maintained by upserts/removals must rank
    exactly like a fresh scan of the current logical corpus — the
    parity contract the tests pin.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        num_term_buckets: int = 64,
        id_col: str = "doc_id",
        text_col: str = "text",
        compact_threshold: int = 8,
    ) -> None:
        from etl_stream_spark.l0_log import L0AppendLog

        self.spark = spark
        self.path = path.rstrip("/")
        self.num_term_buckets = num_term_buckets
        self.id_col = id_col
        self.text_col = text_col
        self.compact_threshold = compact_threshold
        #: cached so the forward table's MOR compaction counter survives
        #: across upserts (a fresh instance per call would never reach
        #: its threshold and L0 would grow unbounded)
        self._fwd_table: "ParquetMergeTable | None" = None
        #: the shared L0 append-log machinery (list/sweep/drain gate) —
        #: the same class ParquetMergeTable rides, so the two sweep
        #: gates can never diverge again
        self._l0 = L0AppendLog(spark, self._l0_path, compact_threshold)

    @property
    def _post_path(self) -> str:
        return self.path + "/postings"

    @property
    def _l0_path(self) -> str:
        # underscore prefix → hidden from the bucket-layout parquet read
        return self._post_path + "/_l0"

    @property
    def _meta_path(self) -> str:
        return self.path + "/meta.json"

    def _fwd(self) -> "ParquetMergeTable":
        from etl_stream_spark.cdc.merge import ParquetMergeTable

        if self._fwd_table is None:
            # merge_on_read: each upsert/removal is ONE shuffle-free L0
            # append instead of an eager fold + partitioned rewrite —
            # the fwd merge was most of the upsert's per-batch constant
            self._fwd_table = ParquetMergeTable(
                self.spark,
                self.path + "/fwd",
                keys=[self.id_col],
                num_buckets=32,
                tombstone_deletes=True,
                merge_on_read=True,
                compact_threshold=self.compact_threshold,
            )
        return self._fwd_table

    def _gen(self) -> int:
        # driver-side FS file, not a parquet dataset: a Spark job per
        # generation read/bump would dominate small upserts
        from etl_stream_spark.l0_log import read_small_text

        text = read_small_text(self.spark, self._meta_path)
        return 0 if text is None else int(text)

    def _set_gen(self, g: int) -> None:
        from etl_stream_spark.l0_log import write_small_text

        write_small_text(self.spark, self._meta_path, str(int(g)))

    def _term_bucket(self):
        return F.pmod(F.xxhash64("t"), F.lit(self.num_term_buckets)).cast("int")

    # -- postings storage: bucket layout + L0 append log ---------------------
    # (the list/sweep/drain machinery is the shared L0AppendLog; only the
    # drain — folding into the term-bucket layout — is postings-specific)

    def _l0_files(self) -> list[str]:
        return self._l0.files()

    def _read_postings(self, buckets: list[int] | None = None) -> DataFrame | None:
        """All postings rows: the partitioned bucket layout (partition-
        pruned when ``buckets`` is given) unioned with the un-drained L0
        log (one flat directory, bounded by the compaction cadence —
        the filter on its ``_tb`` DATA column is a scan of at most
        ``compact_threshold`` appends, never the corpus)."""
        from pyspark.errors.exceptions.captured import AnalysisException

        parts = []
        try:
            main = self.spark.read.parquet(self._post_path)
            if buckets is not None:
                main = main.filter(F.col(TERM_BUCKET_COL).isin(buckets))
            parts.append(main)
        except AnalysisException:
            pass  # nothing drained yet — L0-only index
        l0 = self._l0.read()
        if l0 is not None:
            if buckets is not None:
                l0 = l0.filter(F.col(TERM_BUCKET_COL).isin(buckets))
            parts.append(l0)
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _drain_l0(self) -> None:
        """Fold the L0 log into the partitioned layout, then delete the
        consumed files. Crash window (after the append, before the
        deletes): consumed rows exist twice; the read-side
        (doc, term, generation) collapse in :meth:`_live` makes the
        duplication invisible, and the next drain removes it."""
        files = self._l0.files()
        if not files:
            return
        l0 = self.spark.read.parquet(*files)
        l0.write.mode("append").partitionBy(TERM_BUCKET_COL).parquet(self._post_path)
        self._l0.delete_files(files)

    def _rows(self, docs: DataFrame, g: int) -> tuple[DataFrame, DataFrame]:
        toks = docs.select(
            F.col(self.id_col), F.explode(tokens(self.text_col)).alias("t")
        )
        tf = (
            toks.groupBy(self.id_col, "t")
            .agg(F.count(F.lit(1)).alias("tf"))
            .withColumn(GEN_COL, F.lit(g).cast("long"))
            .withColumn(TERM_BUCKET_COL, self._term_bucket())
        )
        dl = toks.groupBy(self.id_col).agg(F.count(F.lit(1)).alias("dl"))
        return tf, dl

    def _merge_fwd(self, dl: DataFrame, g: int, op: str) -> None:
        from etl_stream_spark.cdc.envelope import OPERATION_COL, SEQUENCE_COL

        self._fwd().merge(
            dl.select(
                F.col(self.id_col),
                F.col("dl"),
                F.lit(g).cast("long").alias("doc_gen"),
                F.lit(op).alias(OPERATION_COL),
                F.lpad(F.lit(g).cast("string"), 20, "0").alias(SEQUENCE_COL),
            )
        )

    def build(self, docs: DataFrame) -> None:
        """(Re)build from scratch. Truncates any existing forward index
        first: merging a gen-0 upsert into a populated fwd table would be
        rejected by its stale-sequence guard (existing rows carry higher
        sequences), leaving doc_gen > 0 while postings say gen 0 — the
        liveness join would then drop every document."""
        from etl_stream_spark.cdc.envelope import OP_UPDATE

        tf, dl = self._rows(docs, 0)
        tf.write.mode("overwrite").partitionBy(TERM_BUCKET_COL).parquet(
            self._post_path
        )
        # no stale generation may survive a rebuild: drop any L0 rows
        # the overwrite did not already remove (clear also resets the
        # sweep counter)
        self._l0.clear()
        self._fwd().truncate()
        self._merge_fwd(dl, 0, OP_UPDATE)
        self._set_gen(0)

    def upsert(self, docs: DataFrame) -> None:
        """Add new documents or re-index changed ones: postings append
        at the next generation; the forward index advances the docs'
        current generation, instantly invalidating their old postings.

        Per-batch cost is TWO shuffle-free append jobs (flat postings-L0
        write + the forward table's MOR delta write) plus amortized
        1/threshold drains — not a partitionBy committer and an eager
        join per batch. This matches the reference's landing-append cost
        model: one ``append_rows`` call per batch with deferred
        server-side consolidation
        (``/root/reference/etl-snowflake-py/etl_snowflake/client.py:573-685``)."""
        from etl_stream_spark.cdc.envelope import OP_UPDATE

        g = self._gen() + 1
        tf, dl = self._rows(docs, g)
        self._l0.append(tf)
        self._merge_fwd(dl, g, OP_UPDATE)
        self._set_gen(g)
        self._l0.maybe_sweep(self._drain_l0)

    def remove(self, ids: DataFrame) -> None:
        """Delete documents: a fwd tombstone is enough — their postings
        fail the liveness join and compaction reclaims them later."""
        from etl_stream_spark.cdc.envelope import OP_DELETE, SEQUENCE_COL, OPERATION_COL

        g = self._gen() + 1
        self._fwd().merge(
            ids.select(
                F.col(self.id_col),
                F.lit(None).cast("long").alias("dl"),
                F.lit(None).cast("long").alias("doc_gen"),
                F.lit(OP_DELETE).alias(OPERATION_COL),
                F.lpad(F.lit(g).cast("string"), 20, "0").alias(SEQUENCE_COL),
            )
        )
        self._set_gen(g)

    def _live(self, postings: DataFrame) -> DataFrame:
        """Join postings to the forward index and keep rows whose
        generation matches the doc's current one (live docs only).

        The (doc, term, generation) collapse first makes the store
        idempotent under at-least-once duplication — a crashed L0 drain
        or a replayed upsert leaves byte-identical rows twice, and
        ``max`` (not an arbitrary pick) keeps the collapse deterministic
        even for the pathological retry-with-different-content. On the
        search path the collapse runs on the query-pruned set (bounded
        by the query footprint), not the corpus."""
        postings = postings.groupBy(
            self.id_col, "t", GEN_COL, TERM_BUCKET_COL
        ).agg(F.max("tf").alias("tf"))
        fwd = self._fwd().read().select(self.id_col, "dl", "doc_gen")
        return (
            postings.join(fwd, self.id_col)
            .filter(F.col(GEN_COL) == F.col("doc_gen"))
            .drop(GEN_COL, "doc_gen")
        )

    def search(self, queries: DataFrame, k: int = 10) -> DataFrame:
        """BM25 top-k per query over the CURRENT corpus: postings pruned
        to the query terms' buckets (bucket dirs by partition pruning,
        L0 by its bounded scan), liveness-joined, then scored by the
        same code path as :func:`bm25_topk`."""
        qterms = query_terms(queries, self.id_col, self.text_col)
        buckets = [
            r[0]
            for r in qterms.select(self._term_bucket().alias("_b")).distinct().collect()
        ]
        post = self._read_postings(buckets)
        if post is None:
            raise ValueError(f"PostingsIndex at {self.path} holds no postings")
        post = post.join(
            F.broadcast(qterms.select("t").distinct()), "t", "left_semi"
        )
        live = self._live(post)
        tf = live.select(self.id_col, "t", "tf")
        dl = self._fwd().read().select(self.id_col, "dl")
        return _bm25_rank(qterms, tf, dl, k, self.id_col)

    def compact(self) -> None:
        """Rewrite postings to live current-generation rows only (L0
        drained into the rewrite, so the result is one clean bucket
        layout)."""
        all_posts = self._read_postings()
        if all_posts is None:
            return
        live = self._live(all_posts)
        current_gen = F.col("_cur_gen")
        fwd = self._fwd().read().select(
            F.col(self.id_col), F.col("doc_gen").alias("_cur_gen")
        )
        survivors = (
            live.drop("dl")
            .join(fwd, self.id_col)
            .withColumn(GEN_COL, current_gen)
            .drop("_cur_gen")
            # materialize BEFORE overwriting the directory being read —
            # lazy evaluation would scan files the overwrite just deleted
            .localCheckpoint(eager=True)
        )
        survivors.write.mode("overwrite").partitionBy(TERM_BUCKET_COL).parquet(
            self._post_path
        )
        # survivors were checkpointed, so consumed L0 rows (now folded
        # into the rewrite) can be dropped
        self._l0.clear()


def rrf_fuse(
    lists: list[DataFrame],
    rank_cols: list[str],
    k: int = 5,
    id_cols: tuple[str, str] = ("query_id", "doc_id"),
    c: int = RRF_C,
) -> DataFrame:
    """Reciprocal-rank fusion of ranked lists keyed by (query, doc).

    Each input holds ``id_cols + [rank_col]``; absent entries simply
    contribute nothing. Returns the fused top-k with the per-list ranks
    riding along (NULL where a list missed the document).
    """
    if not lists:
        raise ValueError("rrf_fuse requires at least one ranked list")
    if len(lists) != len(rank_cols):
        raise ValueError(
            f"rrf_fuse: {len(lists)} lists but {len(rank_cols)} rank_cols — "
            "a silent zip-truncation would drop whole lists from the fusion"
        )
    qc, dc = id_cols
    fused = None
    for df, rc in zip(lists, rank_cols):
        part = df.select(qc, dc, rc)
        fused = (
            part
            if fused is None
            else fused.join(part, [qc, dc], "full_outer")
        )
    score = None
    for rc in rank_cols:
        term = F.coalesce(1.0 / (c + F.col(rc)), F.lit(0.0))
        score = term if score is None else score + term
    w = Window.partitionBy(qc).orderBy(F.desc("rrf_score"), F.col(dc))
    return (
        fused.withColumn("rrf_score", F.round(score, 6))
        .withColumn("fused_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("fused_rank") <= k)
        .select(qc, dc, "rrf_score", *rank_cols, "fused_rank")
    )
