"""Incremental dedup over a document stream (Structured Streaming).

destor is itself a single-pass streaming dedup engine: each incoming
chunk is looked up against the accumulating fingerprint index
(/root/reference/src/index/index.c:140-216).  The Spark restatement for
documents:

  readStream (file source of web_pages batches)
    -> exact pass: dropDuplicates on content hash with a watermark
       (state = the fingerprint index; watermark bounds it, exactly the
       role of destor's bounded fingerprint cache, fast15 sec 4.1)
    -> signature stage (same Arrow UDF as batch — code reuse is total)
    -> foreachBatch: LSH pairs of the micro-batch vs the accumulated
       signature table (the "kv index" as a growing parquet table),
       append new assignments.

The micro-batch join against accumulated state is destor's
index-buffer + kv-store cascade (src/index/index.c:150-216) with the
batch as the buffer.  Tested end-to-end with the file source in
tests/test_streaming.py (availableNow trigger, no wall-clock waits).
"""

from __future__ import annotations

import json
import os

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructType

from destor_spark.config import DedupConfig
from destor_spark.operators import exact as exact_op
from destor_spark.operators import lsh as lsh_op
from destor_spark.operators import verify as verify_op
from destor_spark.plans.checkpoint import Barriers
from destor_spark.plans.pipeline import signatures_stage

WEB_PAGES_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def stream_exact_dedup(
    spark: SparkSession,
    in_dir: str,
    watermark: str = "1 hour",
    files_per_trigger: int = 4,
) -> DataFrame:
    """readStream -> watermark -> dropDuplicatesWithinWatermark(hash).

    Returns the streaming DataFrame (caller attaches the sink).  State
    is bounded by the event-time watermark — late duplicates beyond the
    watermark are not deduped, mirroring destor's bounded cache.

    dropDuplicatesWithinWatermark, NOT plain dropDuplicates: with the
    event-time column absent from the dedup keys, Spark never applies
    watermark eviction to dropDuplicates state, so every content hash
    ever seen would be retained forever — unbounded state AND dedup
    semantics the docstring above would misdescribe.  The
    WithinWatermark variant evicts a hash once the watermark passes its
    event time + delay, which is exactly the bounded-fingerprint-cache
    contract (duplicates farther apart than the window both survive)."""
    src = (
        spark.readStream.schema(WEB_PAGES_DDL)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(in_dir)
    )
    hashed = exact_op.with_content_hash(src)
    return hashed.withWatermark(
        "warc_ts", watermark
    ).dropDuplicatesWithinWatermark(["content_sha"])


def _check_store_layout(state_dir: str) -> None:
    """Refuse to resume a state_dir written by a legacy layout (flat
    pairs/part-*.parquet; signatures/ as flat part-files or split into
    ub=* url-hash buckets).  Writing the current layout next to
    old-layout files would leave a mix that crashes partition discovery
    on the NEXT batch ("Conflicting directory structures") — failing up
    front with a named remedy beats a delayed, cryptic read error."""
    pair_store = os.path.join(state_dir, "pairs")
    sig_store = os.path.join(state_dir, "signatures")
    legacy = []
    if os.path.isdir(pair_store) and any(
        f.startswith("part-") for f in os.listdir(pair_store)
    ):
        legacy.append("pairs/ holds flat part-files (no bid= level)")
    if os.path.isdir(sig_store):
        entries = os.listdir(sig_store)
        if any(f.startswith("part-") for f in entries):
            # the oldest layout: flat append, no partition level at all
            legacy.append("signatures/ holds flat part-files (no bid= level)")
        if any(f.startswith("ub=") for f in entries):
            legacy.append("signatures/ is split into ub= url-hash buckets")
    if legacy:
        raise RuntimeError(
            "state_dir uses the legacy pre-bid store layout ("
            + "; ".join(legacy)
            + ").  The at-least-once layout partitions pairs and "
            "signatures by bid alone; mixing layouts corrupts "
            "partition discovery.  Rebuild the store (delete "
            f"{state_dir} and replay the input), or migrate by "
            "rewriting each store with its bid column as the only "
            "partition."
        )


def read_band_store(
    spark: SparkSession, band_store: str, new_bands: DataFrame
) -> DataFrame:
    """The band-store members in the kb partitions new_bands touches.

    The store is read with the schema the stream writes (no
    schema-inference job), and the touched kb values stay a broadcast
    left-semi join instead of a driver collect: dynamic partition
    pruning turns the join into a kb partition filter, so untouched
    kb= directories are never opened."""
    kbs = F.broadcast(new_bands.select("kb").distinct())
    store = spark.read.schema(new_bands.schema).parquet(band_store)
    return store.join(kbs, "kb", "left_semi")


def _write_store(df: DataFrame, rows: int, store: str, part: str) -> None:
    """Dynamic-partition-overwrite df into store, partitioned on part —
    unless the barrier it comes from holds no rows (rows: its count
    from the parquet footers, Barriers.rows, no Spark job).  A store
    dir exists only once it holds rows: whether there is state to read
    is os.path.exists, and an empty write would create the dir while
    rewriting no partition."""
    w = df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
    if rows:
        w.partitionBy(part).parquet(store)


def run_incremental_dedup(
    spark: SparkSession,
    in_dir: str,
    state_dir: str,
    cfg: DedupConfig,
    value_len: int = 64,
    n_key_buckets: int = 64,
    max_event_age: str | None = None,
    files_per_trigger: int = 4,
) -> None:
    """foreachBatch incremental LSH dedup with a BOUNDED, PRUNED store.

    Store layout (the destor kv index, restated for files):

      * band_store/ — the exploded (url, warc_ts, bid, band, key)
        membership relation, hash-partitioned on kb = pmod(key,
        n_key_buckets).  A micro-batch only READS the kb partitions its
        own keys land in — read_band_store left-semi-joins the store
        to the broadcast set of the batch's kb values, and dynamic
        partition pruning turns that join into a kb partition filter
        (asserted in tests/test_streaming.py) — and only REWRITES those
        partitions (dynamic partition overwrite), so per-batch IO is
        bounded by the batch's bucket footprint, not the corpus — while
        that footprint is small: K distinct band keys leave
        n_key_buckets·(1 - 1/n_key_buckets)^K partitions untouched on
        average, below 1 of 64 once K ≳ 265 (about 17 docs at 16
        bands), so a 300-doc trigger reads and rewrites all of them.
      * FIFO newest-k retention: each (band, key) keeps only the
        value_len most recent members by arrival (batch id, then
        warc_ts, url) — exactly destor's index_value_length FIFO rule
        (/root/reference/src/index/kvstore_htable.c:44-53, "value[0]
        keeps the latest ID").  Retention is applied on the touched
        partitions at every rewrite, so the physical store is bounded
        too.  Consequence (destor-identical): a document evicted from
        a bucket cannot match FUTURE arrivals through that bucket.
      * signatures/ — (url, warc_ts, sig, ...) partitioned on bid
        alone; verification left-semi-joins the store on the candidate
        pairs' urls.  It has no url-hash partition level: with 64
        such buckets, a 300-doc trigger's candidate pairs touch 45/64
        of them in the first trigger and 63/64 in the second, so the
        level prunes almost nothing and costs 64 directories plus a
        listing job per trigger.

    Emitted pairs are restricted to those involving at least one url
    from the current batch (old-old pairs were emitted when first
    seen), so the pair store grows with new data only.  availableNow
    trigger => terminates when the backlog drains.

    Every fact the batch needs about what it wrote comes from what it
    wrote: whether the batch, its retained band rows or its verified
    pairs are empty is read from the barrier's parquet footers (no
    Spark job), and an empty barrier writes no store.

    At-least-once safety: the pair and signature stores are partitioned
    by batch id and written with dynamic partition overwrite, so a
    micro-batch replayed after a crash rewrites its own bid partitions
    instead of appending duplicates; the band-store rewrite dedups
    replayed (identical) rows before applying FIFO retention.
    Verification always uses the NEWEST signature per url, so a
    re-crawled page matches future candidates under its latest text.

    Event-time retention (max_event_age, e.g. "7 days"): alongside the
    batch-arrival FIFO, an event-time watermark — the max warc_ts seen
    across all batches, persisted monotonically in
    state_dir/watermark.json — defines a horizon = watermark - age.
    Same semantics as Spark's own streaming watermark, applied to the
    LSH branch:
      * LATE-DATA DROP, against the PREVIOUS batches' watermark (the
        watermark lags one batch, as in Spark, so a row is never
        dropped by its own batch's max): batch rows with
        warc_ts < prev_watermark - age never enter the band store and
        generate no pairs (a too-late document is not deduplicated —
        destor's bounded fingerprint cache has the identical miss
        semantics for evicted entries);
      * STATE VISIBILITY, against the same LAGGING watermark: the
        stored members a batch's pair generation can match are those
        inside the horizon that GOVERNS the batch (Spark cleans state
        at batch end, so batch N's join sees everything batch N-1's
        cleanup kept);
      * STATE EVICTION, LAZY at the next touch: the visibility filter
        doubles as the physical drop — a partition's event-expired
        members leave the files at its next rewrite, exactly one
        horizon step after Spark's batch-end cleanup would have
        removed them.  Deferring the drop past the batch keeps
        at-least-once replay exact (a replayed batch joins against
        its pre-batch state, the file-store analogue of Spark's
        versioned state store restoring version N-1), while bucket
        bytes stay bounded by the FIFO k plus one batch's width.
    None (default) disables event-time retention (FIFO only).
    """
    band_store = os.path.join(state_dir, "band_store")
    sig_store = os.path.join(state_dir, "signatures")
    pair_store = os.path.join(state_dir, "pairs")
    ckpt = os.path.join(state_dir, "_checkpoint")
    wm_path = os.path.join(state_dir, "watermark.json")
    age = pd.Timedelta(max_event_age) if max_event_age else None

    _check_store_layout(state_dir)

    src = (
        spark.readStream.schema(WEB_PAGES_DDL)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(in_dir)
    )

    band_cols = ["url", "warc_ts", "bid", "band", "key"]

    def _process(batch: DataFrame, batch_id: int) -> None:
        # per-batch barriers, removed before the batch returns: a
        # long-lived driver must not accumulate intermediates (the
        # band/sig/pair STORES are the durable state, not these)
        with Barriers(spark) as b:
            _process_inner(batch, batch_id, b)

    def _process_inner(batch: DataFrame, batch_id: int, b: Barriers) -> None:
        sigs = b(signatures_stage(batch, cfg), "sigs")
        if not b.rows("sigs"):
            # foreachBatch can deliver an empty micro-batch: it writes
            # no store and moves no watermark
            return
        drop_horizon = None
        if age is not None:
            prev = None
            st = None
            if os.path.exists(wm_path):
                with open(wm_path) as f:
                    st = json.load(f)
            row = sigs.agg(
                F.max("warc_ts").alias("m"),
                # content fingerprint for replay detection: row count,
                # min event time, and an order-insensitive url-hash
                # xor — one pass with the max aggregate
                F.count(F.lit(1)).alias("n"),
                F.min("warc_ts").alias("lo"),
                F.expr("bit_xor(xxhash64(url))").alias("uh"),
            ).first()
            batch_max = pd.Timestamp(row["m"]) if row["m"] else None
            batch_fp = [
                int(row["n"]),
                str(row["lo"]),
                int(row["uh"]) if row["uh"] is not None else 0,
            ]
            if st is not None:
                rec_prev = (
                    pd.Timestamp(st["prev"])
                    if st.get("prev") is not None
                    else None
                )
                if st.get("bid") == batch_id and st.get("fp") == batch_fp:
                    # At-least-once REPLAY of this very batch: the
                    # original attempt already advanced the watermark
                    # before crashing.  Reading the advanced value back
                    # as `prev` would derive the drop horizon from the
                    # batch's OWN max — resurrecting exactly the
                    # own-max late-drop bug, but only on retry, and
                    # silently losing rows the first attempt kept.  The
                    # record therefore carries the prev that governed
                    # the original attempt; a replay re-reads it and
                    # recomputes identical horizons (and an identical
                    # record, so the rewrite below is idempotent too).
                    # Replay detection requires the bid match AND a
                    # batch-content fingerprint match (count, min
                    # event time, url-hash sum): a bid that merely
                    # collides (checkpoint lost, state kept; or
                    # re-grouped triggers) — even one that happens to
                    # contain the recorded-watermark document — falls
                    # through to the monotonic branch instead of being
                    # governed by a stale prev.
                    prev = rec_prev
                else:
                    prev = pd.Timestamp(st["watermark"])
            wm = max(p for p in (prev, batch_max) if p is not None) \
                if (prev is not None or batch_max is not None) else None
            # Spark watermark semantics: the LATE-DATA DROP and the
            # state VISIBLE to this batch's join use the PREVIOUS
            # batches' watermark (Spark's watermark lags one batch
            # precisely so that rows arriving in the same batch as the
            # new high-point are never dropped by their own batch's
            # max).  Using the advanced value silently lost on-time
            # rows that shared a batch with a much newer document.
            if prev is not None:
                drop_horizon = prev - age
            if wm is not None:
                tmp = wm_path + ".tmp"
                with open(tmp, "w") as f:
                    json.dump(
                        {
                            "watermark": wm.isoformat(),
                            "bid": batch_id,
                            "fp": batch_fp,
                            "prev": (
                                prev.isoformat()
                                if prev is not None
                                else None
                            ),
                        },
                        f,
                    )
                os.replace(tmp, wm_path)
        new_bands = lsh_op.explode_bands(sigs).select(
            "url",
            "warc_ts",
            F.lit(batch_id).alias("bid"),
            "band",
            "key",
            F.pmod("key", F.lit(n_key_buckets)).alias("kb"),
        )
        if drop_horizon is not None:
            # late-data drop: too-late rows join no bucket
            new_bands = new_bands.filter(
                F.col("warc_ts") >= F.lit(drop_horizon.isoformat()).cast(
                    "timestamp"
                )
            )

        if os.path.exists(band_store):
            old = read_band_store(spark, band_store, new_bands)
            if drop_horizon is not None:
                # State VISIBLE to this batch's pair generation is
                # governed by the LAGGING watermark — the value that
                # was in force when this batch started (Spark cleans
                # state at batch END, so batch N's join still sees
                # everything batch N-1's cleanup kept).  Filtering the
                # old side with the ADVANCED horizon here suppressed
                # real pairs: a stored member still inside the
                # governing window never matched a fresh duplicate
                # that happened to share its batch with a much newer
                # document.  This filter is ALSO the physical eviction
                # point: members it excludes are left out of the
                # rewrite below, so event-expired state is dropped at
                # the partition's next touch (see the rewrite comment
                # for why eviction must lag a batch).
                old = old.filter(
                    F.col("warc_ts")
                    >= F.lit(drop_horizon.isoformat()).cast("timestamp")
                )
            merged = old.select(*band_cols, "kb").unionByName(new_bands)
        else:
            merged = new_bands

        # foreachBatch is at-least-once: a batch replayed after a crash
        # between the band-store rewrite and the stream commit re-unions
        # rows the store already holds.  Replayed rows are IDENTICAL on
        # every column (bid included), so a key-wide dropDuplicates on
        # the touched partitions makes the rewrite idempotent — without
        # it, duplicates burn FIFO slots twice.
        merged = merged.dropDuplicates(band_cols)

        # FIFO newest-k per (band, key): arrival order = (bid, warc_ts, url)
        w = Window.partitionBy("band", "key").orderBy(
            F.desc("bid"), F.desc("warc_ts"), F.desc("url")
        )
        retained = b(  # barrier: store is read AND rewritten
            merged.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= value_len)
            .drop("rn"),
            "retained",
        )
        # STATE EVICTION is deliberately LAZY: batch N's rewrite keeps
        # every member its join could see (the lag-filtered visible set
        # trimmed by FIFO) and drops event-expired members only at the
        # partition's NEXT touch, where the then-lagging horizon —
        # which equals this batch's advanced horizon — excludes them
        # from `old`.  Physically evicting with the advanced horizon
        # here looks equivalent one batch later but breaks
        # at-least-once REPLAY: an attempt that rewrote the store and
        # crashed before its pair write would leave the replay joining
        # against an already-evicted store, silently losing the pairs
        # the first attempt found.  Deferring the physical drop means
        # a replayed batch always sees its pre-batch visible state —
        # the file-store simulation of Spark's VERSIONED state store,
        # which restores state version N-1 when batch N replays.  The
        # extra bytes are bounded: one batch's width per touched
        # partition, on top of the FIFO k.
        # (an all-dropped batch, every row beyond the horizon, retains
        # nothing and so writes no band store)
        _write_store(retained, b.rows("retained"), band_store, "kb")

        # candidates: only buckets this batch touched, only retained members
        new_keys = new_bands.select("band", "key").distinct()
        members = retained.join(
            F.broadcast(new_keys), ["band", "key"], "left_semi"
        ).select("url", "warc_ts", "band", "key")
        pairs = lsh_op.bucket_pairs(members, cfg)
        new_urls = sigs.select("url")
        pairs = b(  # barrier: url semi-join + verify_pairs
            pairs.join(
                F.broadcast(new_urls.withColumnRenamed("url", "url_a")),
                "url_a",
                "left_semi",
            )
            .unionByName(
                pairs.join(
                    F.broadcast(
                        new_urls.withColumnRenamed("url", "url_b")
                    ),
                    "url_b",
                    "left_semi",
                )
            )
            .distinct(),
            "pairs",
        )

        # verification: the stored signatures of the pairs' urls, read
        # with the schema they were written with (no schema-inference
        # job)
        all_sigs = sigs
        if os.path.exists(sig_store):
            stored = StructType(list(sigs.schema)).add("bid", IntegerType())
            urls_needed = (
                pairs.select(F.col("url_a").alias("url"))
                .unionByName(pairs.select(F.col("url_b").alias("url")))
                .distinct()
            )
            old_sigs = (
                spark.read.schema(stored)
                .parquet(sig_store)
                .join(urls_needed, "url", "left_semi")
                .drop("bid")
            )
            all_sigs = sigs.unionByName(old_sigs)
        # A url present in BOTH the batch and the store (re-crawl) — or
        # in multiple prior batches — would fan every candidate pair
        # out per signature copy in verify's two joins and emit
        # contradictory est values.  Keep the NEWEST signature per url
        # (matching the band store's FIFO newest-first rule); the
        # row_number tiebreak on warc_ts alone is fine because a replay
        # duplicate is identical anyway.
        w_url = Window.partitionBy("url").orderBy(F.desc("warc_ts"))
        all_sigs = (
            all_sigs.withColumn("_rn", F.row_number().over(w_url))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        verified = b(  # barrier: footers decide the write
            verify_op.verify_pairs(pairs, all_sigs, cfg), "verified"
        )
        # Durable outputs are partitioned by batch id and written with
        # dynamic partition overwrite: an at-least-once replay of batch
        # N rewrites exactly the bid=N partitions instead of appending
        # the same rows twice (blind append double-counted pairs and
        # duplicated signature rows on retry).
        bid = F.lit(batch_id)
        for df, name, store in (
            (verified, "verified", pair_store), (sigs, "sigs", sig_store)
        ):
            _write_store(df.withColumn("bid", bid), b.rows(name), store, "bid")

    q = (
        src.writeStream.foreachBatch(_process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
