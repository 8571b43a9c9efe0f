"""Structured Streaming forms of the reference's incremental patterns
(SURVEY §2.9).

The reference runs scheduled incremental batch (M/W/F) with hand-kept
state: a processed-record ledger (phl.Rmd:776-779, elr.Rmd:527-546), a
timestamp high-watermark (S_Dropout_Records.Rmd:89,296), a retry queue
with TTL (KEEP_NA...Rmd:699-763), and multi-output routing of each
batch (template_submitters.Rmd:836-959). On Spark these become one
Structured Streaming job each:

  T1 ledger dedup      -> dropDuplicatesWithinWatermark (state store
                          replaces the CSV ledger; the watermark bounds
                          state exactly like the reference's 60-day TTL)
  T2 high-watermark    -> event-time watermark, free with any stateful op
  windowed monitoring  -> window() agg with late-data tolerance
  multi-output routing -> foreachBatch (each micro-batch routed to N
                          sinks in one pass — same tagged-route single
                          pass as the batch engine, SURVEY §7 phase 3)
  custom state         -> applyInPandasWithState sessionizer

Batch/stream parity: every transformation here is also valid on a batch
DataFrame (Structured Streaming's unified model), which is how the
tests oracle-check them — run the same plan in batch, compare.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_parquet_stream(spark: SparkSession, path: str,
                        schema: T.StructType,
                        max_files_per_trigger: int | None = None) -> DataFrame:
    """File-drop queue as a stream: the reference's Submissions/<lab>/
    directories (template_submitters.Rmd:214-231) map to a file source
    that discovers new files per micro-batch."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def ledger_dedup_stream(stream: DataFrame, keys: Sequence[str],
                        ts_col: str, delay: str = "60 days") -> DataFrame:
    """T1: processed-record ledger as streaming state.

    dropDuplicatesWithinWatermark keeps each key in the state store for
    `delay` past the watermark — the exact semantics of the reference's
    ledger + 60-day TTL (KEEP_NA...Rmd:711), without the side files.
    At scale: state is partitioned by key across executors (RocksDB
    state store on a real cluster); no driver-side set."""
    return (stream
            .withWatermark(ts_col, delay)
            .dropDuplicatesWithinWatermark(list(keys)))


def windowed_counts(stream: DataFrame, ts_col: str, group_cols: Sequence[str],
                    window: str = "1 hour", delay: str = "2 hours") -> DataFrame:
    """Submission-lag / lab-monitoring aggregate as an event-time
    windowed count with late-data tolerance (the streaming form of the
    per-day pivot counts, gap_data.Rmd:590-645)."""
    return (stream
            .withWatermark(ts_col, delay)
            .groupBy(F.window(F.col(ts_col), window), *group_cols)
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("window.start").alias("window_start"),
                    F.col("window.end").alias("window_end"),
                    *group_cols, "n"))


def route_batch(batch: DataFrame, route_col: str,
                sinks: dict[str, Callable[[DataFrame], None]]) -> None:
    """One micro-batch, N outputs: tag once, write each route.
    `sinks` maps route value -> writer callable."""
    batch.persist()
    try:
        for route, writer in sinks.items():
            writer(batch.filter(F.col(route_col) == route).drop(route_col))
    finally:
        batch.unpersist()


def foreach_batch_router(route_col: str,
                         sinks: dict[str, Callable[[DataFrame], None]]):
    """Multi-output routing for writeStream.foreachBatch — the
    template path's roster / For_Review / keep_na split
    (template_submitters.Rmd:904-959) in one streaming job."""
    def _fn(batch: DataFrame, batch_id: int) -> None:
        route_batch(batch, route_col, sinks)
    return _fn


SESSION_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("session_start_us", T.LongType()),
    T.StructField("session_end_us", T.LongType()),
    T.StructField("n_events", T.LongType()),
])

_SESSION_STATE_SCHEMA = T.StructType([
    T.StructField("start_us", T.LongType()),
    T.StructField("last_us", T.LongType()),
    T.StructField("n", T.LongType()),
])


def sessionize_fn(gap_us: int, use_timeout: bool = True):
    """applyInPandasWithState session builder: events within gap_us of
    each other belong to one session; a longer silence (or state
    timeout) closes it. The custom-stateful-operator pattern for
    anything the built-in windows can't express.

    use_timeout=False skips the processing-time timeout registration —
    required for trigger(availableNow) drains: a registered
    ProcessingTimeTimeout makes the multi-batch executor keep
    scheduling batches until the timeout fires (observed: 60+ no-data
    micro-batches spinning on state commits), so a drain never
    terminates promptly. Timeout-based session closure belongs to
    CONTINUOUS triggers; drains close sessions by gap only and leave
    the trailing open session in state for the next run."""
    def _fn(key, pdfs, state):
        import pandas as pd
        (user_id,) = key
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame([{"user_id": user_id, "session_start_us": start,
                                 "session_end_us": last, "n_events": n}])
            return
        ts = sorted(t for pdf in pdfs for t in pdf["ts_us"].tolist())
        closed = []
        if state.exists:
            start, last, n = state.get
        else:
            start = last = None
            n = 0
        for t in ts:
            if start is None:
                start, last, n = t, t, 1
            elif t - last <= gap_us:
                last, n = t, n + 1
            else:
                closed.append((start, last, n))
                start, last, n = t, t, 1
        state.update((start, last, n))
        if use_timeout:
            state.setTimeoutDuration(60_000)
        if closed:
            yield pd.DataFrame([
                {"user_id": user_id, "session_start_us": s,
                 "session_end_us": e, "n_events": c} for s, e, c in closed])
    return _fn


def sessionize(stream: DataFrame, gap_us: int = 3_600_000_000, *,
               timeout_conf: str = "ProcessingTimeTimeout") -> DataFrame:
    """Group events per user into gap-bounded sessions (stateful).

    timeout_conf="NoTimeout" for availableNow drains (see
    sessionize_fn: a processing-time timeout keeps the multi-batch
    executor spinning and the drain never terminates); the default
    ProcessingTimeTimeout is the continuous-trigger production mode
    where silence closes the trailing session."""
    return (stream
            .groupBy("user_id")
            .applyInPandasWithState(
                sessionize_fn(gap_us,
                              use_timeout=timeout_conf != "NoTimeout"),
                outputStructType=SESSION_SCHEMA,
                stateStructType=_SESSION_STATE_SCHEMA,
                outputMode="append",
                timeoutConf=timeout_conf))


def near_dup_filter_batch(index: DataFrame, batch: DataFrame,
                          id_col: str, text_col: str, *,
                          threshold: float = 0.7,
                          shingle_n: int = 1, k: int = 8,
                          bands: int = 4) -> DataFrame:
    """Drop batch rows that are near-dups of the static corpus index
    (operators.dedupe_scale.minhash_index). Stream-static join shape:
    the index is the big static side (bucketed on band_key at scale),
    each micro-batch probes it and anti-joins the hits away."""
    from ..operators import dedupe_scale

    hits = (dedupe_scale.query_minhash_index(
                index, batch, id_col, text_col, threshold=threshold,
                shingle_n=shingle_n, k=k, bands=bands)
            .select("batch_id").distinct())
    return batch.join(hits, batch[id_col] == hits["batch_id"], "left_anti")


def foreach_batch_near_dup_dedup(index: DataFrame, id_col: str,
                                 text_col: str,
                                 writer: Callable[[DataFrame], None], *,
                                 threshold: float = 0.7,
                                 shingle_n: int = 1, k: int = 8,
                                 bands: int = 4):
    """Streaming incremental near-dup dedup: each micro-batch of new
    documents is LSH-probed against the persisted corpus index and only
    novel docs reach the sink — the streaming form of the reference's
    processed-ledger dedup (T1) generalized from exact keys to
    similarity state."""
    def _fn(batch: DataFrame, batch_id: int) -> None:
        writer(near_dup_filter_batch(
            index, batch, id_col, text_col, threshold=threshold,
            shingle_n=shingle_n, k=k, bands=bands))
    return _fn


def interval_join_streams(left: DataFrame, right: DataFrame,
                          key_l: str, key_r: str,
                          ts_l: str, ts_r: str, *,
                          within: str = "30 minutes",
                          delay: str = "2 hours") -> DataFrame:
    """Watermarked stream-stream interval join: every right event that
    lands strictly after its left partner and within `within` of it —
    the attribution/correlation primitive (click -> purchase, submit ->
    ack). Column names must be disjoint across the two sides.

    Both sides carry watermarks and the join condition bounds ts_r in
    [ts_l, ts_l + within], so Spark can expire state: a left row is
    held only `within + delay` past the watermark, never forever —
    the property that makes a stream-stream join runnable at 100 TB/day
    (unbounded-state joins are rejected by the engine). Also a valid
    batch plan (unified model), which is how the oracle certifies it."""
    lw = left.withWatermark(ts_l, delay)
    rw = right.withWatermark(ts_r, delay)
    cond = ((F.col(key_l) == F.col(key_r))
            & (F.col(ts_r) > F.col(ts_l))
            & (F.col(ts_r) <= F.col(ts_l) + F.expr(f"INTERVAL {within}")))
    return lw.join(rw, cond, "inner")


def hll_register_stream(stream: DataFrame, ts_col: str, key_col: str,
                        *, window: str = "1 day",
                        delay: str = "2 days") -> DataFrame:
    """Streaming HyperLogLog registers: per-(event-time window,
    register) max rank — the distinct-count sketch as STREAMING STATE.
    This is the state-boundedness argument made executable: exact
    streaming COUNT(DISTINCT key) needs every key in the state store
    forever, while the HLL state is m=256 small ints per window no
    matter how many events arrive, and registers max-merge across
    micro-batches by construction (streaming MAX aggregation IS the
    sketch merge). Downstream, a batch pass turns drained register
    tables into estimates via sketches.hll_estimate_expr — identical
    arithmetic to the batch evt_hll_daily_users query, which the
    parity test pins.

    At scale: state store holds windows x 256 rows; the watermark
    closes windows after `delay`, so state is O(open windows), not
    O(keys seen)."""
    from ..operators.sketches import HLL_M, HLL_P, hll_rank, md5_60bit
    h = md5_60bit(F.col(key_col))
    return (stream
            .withWatermark(ts_col, delay)
            .select(F.window(F.col(ts_col), window).alias("w"),
                    h.bitwiseAND(F.lit(HLL_M - 1)).cast("int")
                     .alias("reg"),
                    hll_rank(F.shiftright(h, HLL_P)).alias("rank"))
            .groupBy("w", "reg")
            .agg(F.max("rank").alias("mj"))
            .select(F.col("w.start").alias("window_start"), "reg", "mj"))


def hll_estimates_from_registers(regs: DataFrame,
                                 group_col: str = "window_start") -> DataFrame:
    """Batch finishing pass over a (drained or persisted) register
    table: per-group harmonic sum + nonzero count -> full-estimator
    estimate (raw / linear-counting). Shared arithmetic with the
    batch HLL queries via sketches.hll_estimate_expr."""
    from ..operators.sketches import HLL_M, HLL_RANK_MAX, hll_estimate_expr
    per = (regs.groupBy(group_col)
               .agg(F.sum(F.expr(
                        f"shiftleft(CAST(1 AS BIGINT), "
                        f"{HLL_RANK_MAX} - mj)")).alias("s_present"),
                    F.count(F.lit(1)).alias("n_present")))
    s_int = (F.col("s_present")
             + (F.lit(HLL_M).cast("long") - F.col("n_present"))
             * F.lit(1 << HLL_RANK_MAX).cast("long"))
    return per.select(
        group_col,
        hll_estimate_expr(s_int, F.col("n_present")).alias("est"))


def ivf_assign_stream(stream: DataFrame, codebook: DataFrame,
                      id_col: str = "id", vec_col: str = "v", *,
                      round_to: int = 6) -> DataFrame:
    """STREAMING IVF cell assignment against a frozen coarse codebook
    — the ingest half of incremental index maintenance run on arrival
    instead of in nightly batches (the ivf_assign_batch contract as a
    stream). STATELESS by construction: the codebook packs into ONE
    static row (cell_id, cv ordered by cell id), the stream-static
    broadcast join attaches it map-side, and each arriving vector
    picks argmax cosine per-row with an array HOF — no window, no
    state store, append mode; at 100 TB this is the shape that rides
    the ingest path at line rate (assignment state is exactly the
    broadcast codebook).

    Value parity with similarity.ivf_assign (bit-identical): the same
    rounded cosine with the same operand order, ties to the LOWER
    cell id via array_max over (csim, -cell_id) — double negation is
    exact and IEEE comparison makes -0.0 == 0.0, so the struct order
    equals the batch window's (csim DESC, cell_id ASC)."""
    from ..operators.similarity import dot, norm

    cbp = (codebook.groupBy()
                   .agg(F.array_sort(F.collect_list(
                            F.struct("cell_id", "cv"))).alias("cb")))
    v = F.col(vec_col)
    nv = norm(v)
    prs = F.transform(
        F.col("cb"),
        lambda s: F.struct(
            F.round(dot(v, s["cv"]) / (nv * norm(s["cv"])), round_to)
             .alias("csim"),
            (-s["cell_id"]).alias("negc")))
    best = F.array_max(prs)
    return (stream.join(F.broadcast(cbp))
                  .select(F.col(id_col).alias("id"),
                          (-best["negc"]).cast("long").alias("cell_id")))


def ngram_contamination_stream(stream: DataFrame, bench: DataFrame,
                               id_col: str = "doc_id",
                               text_col: str = "text",
                               n: int = 5) -> DataFrame:
    """STREAMING benchmark decontamination — the exact n-gram screen
    (textstats.ngram_contamination) run ON INGEST instead of in
    nightly batches: every arriving corpus document is scored against
    the frozen eval set before it ever lands in the training pool.
    STATELESS by construction: the benchmark's distinct 64-bit gram
    hashes pack into ONE static row, the stream-static broadcast join
    attaches them map-side, and each document computes its distinct
    gram hashes and intersects per-row — no explode, no groupBy, no
    state store, append mode; at 100 TB this rides the ingest stream
    at line rate with state exactly the (MBs) eval-set hash list.
    The tiny-side assumption is ENFORCED with the family's bounded
    limit+count probe (minhash_contamination / semantic_contamination
    discipline): an eval set over BENCH_BROADCAST_CAP rows raises
    the clear family error here instead of failing opaquely at
    Spark's single-row/array limits when the one-row pack builds.

    Value parity with the batch screen (bit-identical): same
    ngram_array grams (empty for < n words), same per-doc distinct,
    same xxhash64 — array_intersect counts exactly the rows the
    batch's distinct-hash join counts per doc, and every corpus row
    is emitted (zero-hit docs included, the full decision column)."""
    from ..operators.dedupe_scale import BENCH_BROADCAST_CAP
    from ..operators.textstats import ngram_array

    cap = BENCH_BROADCAST_CAP
    if bench.limit(cap + 1).count() > cap:
        raise ValueError(
            f"ngram_contamination_stream packs the bench side's gram "
            f"hashes into one broadcast row and refuses bench inputs "
            f"over {cap} rows; pre-partition the eval set (the corpus "
            f"side streams and is never broadcast).")

    bg = (bench.select(F.explode(F.array_distinct(
                           ngram_array(text_col, n))).alias("gram"))
               .select(F.xxhash64("gram").alias("gram_h")).distinct()
               .groupBy().agg(F.collect_list("gram_h").alias("bgs")))
    gh = F.transform(F.array_distinct(ngram_array(text_col, n)),
                     lambda g: F.xxhash64(g))
    n_shared = F.size(F.array_intersect(gh, F.col("bgs")))
    return (stream.join(F.broadcast(bg))
                  .select(F.col(id_col),
                          n_shared.cast("long").alias("n_shared_ngrams"),
                          (n_shared > 0).cast("int")
                           .alias("contaminated")))


def run_available_now(stream: DataFrame, name: str,
                      output_mode: str = "append") -> DataFrame:
    """Drain a stream with trigger(availableNow) into a memory sink and
    return the materialized result — the bridge that lets streaming
    plans run under the same oracle gate as batch queries (the driver
    collects the returned DataFrame like any other). Checkpoint is a
    throwaway temp dir: these are correctness-gate runs, not resumable
    production jobs (production passes a real checkpointLocation)."""
    import tempfile

    q = (stream.writeStream.format("memory").queryName(name)
         .outputMode(output_mode)
         .option("checkpointLocation",
                 tempfile.mkdtemp(prefix=f"ckpt_{name}_"))
         .trigger(availableNow=True).start())
    finished = q.awaitTermination(300)
    if not finished:
        # a timed-out drain would hand the oracle gate a silently
        # PARTIAL table (and leave the query squatting on the name) —
        # fail loudly instead
        q.stop()
        raise TimeoutError(
            f"availableNow drain of '{name}' did not finish in 300s; "
            "result would be partial")
    return stream.sparkSession.table(name)
