"""Structured-streaming incremental dedup: a duplicate arriving in a
later micro-batch must be detected against the accumulated signature
state (destor's growing fingerprint index,
/root/reference/src/index/index.c:140-216)."""

from __future__ import annotations

import os

import pandas as pd

from destor_spark.streaming.dedup_stream import run_incremental_dedup
from destor_spark.synth import make_corpus


def test_incremental_dedup_across_batches(spark, cfg, tmp_path):
    in_dir = str(tmp_path / "in")
    state = str(tmp_path / "state")
    os.makedirs(in_dir)

    pages, truth = make_corpus(seed=3, n_docs=200)
    near = truth[truth["dup_class"].isin(["near", "exact"])]
    groups = near.groupby("group_id")["url"].apply(list)
    split_groups = [g for g in groups if len(g) >= 2][:5]
    assert split_groups, "fixture has no dup groups"

    # batch 1: first member of each dup group + half the rest
    # batch 2: the remaining members (the duplicates arrive "later")
    first = {g[0] for g in split_groups}
    later = {u for g in split_groups for u in g[1:]}
    rest = [u for u in pages["url"] if u not in first | later]
    b1 = pages[pages["url"].isin(first | set(rest[::2]))]
    b2 = pages[~pages["url"].isin(set(b1["url"]))]
    b1.to_parquet(os.path.join(in_dir, "batch1.parquet"), index=False)

    run_incremental_dedup(spark, in_dir, state, cfg)
    b2.to_parquet(os.path.join(in_dir, "batch2.parquet"), index=False)
    run_incremental_dedup(spark, in_dir, state, cfg)

    pairs = pd.read_parquet(os.path.join(state, "pairs"))
    got = {
        frozenset((a, b)) for a, b in zip(pairs["url_a"], pairs["url_b"])
    }
    for g in split_groups:
        want_any = {frozenset((g[0], u)) for u in g[1:]}
        assert got & want_any, f"cross-batch dup not detected for group {g}"


def test_fifo_retention_bounds_store(spark, cfg, tmp_path):
    """J4: each (band, key) keeps only the value_len NEWEST members
    (destor index_value_length FIFO,
    /root/reference/src/index/kvstore_htable.c:44-53)."""
    in_dir = str(tmp_path / "in_fifo")
    state = str(tmp_path / "state_fifo")
    os.makedirs(in_dir)
    # k+3 exact copies of one text arriving over two batches: every
    # band bucket of that text accumulates k+3 members without a bound
    k = 4
    base_ts = pd.Timestamp("2024-01-01")
    rows = [
        {
            "url": f"u{i:02d}",
            "warc_ts": base_ts + pd.Timedelta(seconds=i),
            "html": b"",
            "text": "the same exact duplicated text body " * 20,
            "lang": "en",
        }
        for i in range(k + 3)
    ]
    df = pd.DataFrame(rows)
    df["warc_ts"] = df["warc_ts"].astype("datetime64[us]")
    df.iloc[:4].to_parquet(os.path.join(in_dir, "b1.parquet"), index=False)
    from destor_spark.streaming.dedup_stream import run_incremental_dedup

    run_incremental_dedup(spark, in_dir, state, cfg, value_len=k)
    df.iloc[4:].to_parquet(os.path.join(in_dir, "b2.parquet"), index=False)
    run_incremental_dedup(spark, in_dir, state, cfg, value_len=k)

    store = pd.read_parquet(os.path.join(state, "band_store"))
    per_bucket = store.groupby(["band", "key"]).size()
    assert per_bucket.max() <= k, per_bucket.max()
    # the SURVIVORS are the newest arrivals (u06 is the latest)
    survivors = set(store[store["band"] == 0]["url"])
    assert "u06" in survivors and "u00" not in survivors


def test_event_time_retention_bounds_store(spark, cfg, tmp_path):
    """max_event_age: a doc arriving later than the GOVERNING (lagging)
    horizon is DROPPED (never deduplicated — documented late-data
    policy); stored members stay visible through the batch their
    governing horizon covers and are physically EVICTED at the
    partition's NEXT touch (lazy, replay-exact), so LSH state is
    bounded by the event-time window too — one horizon step late."""
    in_dir = str(tmp_path / "in_evt")
    state = str(tmp_path / "state_evt")
    os.makedirs(in_dir)
    text = "the same exact duplicated text body " * 20
    day = lambda d: pd.Timestamp("2024-01-01") + pd.Timedelta(days=d)  # noqa: E731

    def _write(name, rows):
        df = pd.DataFrame(
            [
                {"url": u, "warc_ts": ts, "html": b"", "text": text,
                 "lang": "en"}
                for u, ts in rows
            ]
        )
        df["warc_ts"] = df["warc_ts"].astype("datetime64[us]")
        df.to_parquet(os.path.join(in_dir, name), index=False)

    _write("b1.parquet", [("u00", day(8)), ("u01", day(10))])
    run_incremental_dedup(spark, in_dir, state, cfg, max_event_age="5 days")
    # watermark = day 10, horizon = day 5: both in store, pair emitted
    pairs = pd.read_parquet(os.path.join(state, "pairs"))
    assert {frozenset((a, b)) for a, b in zip(pairs.url_a, pairs.url_b)} == {
        frozenset(("u00", "u01"))
    }

    # batch 2: u02 fresh (day 20), u03 too late (day 3 < the GOVERNING
    # horizon 10 - 5 = day 5, the one that lags a batch)
    _write("b2.parquet", [("u02", day(20)), ("u03", day(3))])
    run_incremental_dedup(spark, in_dir, state, cfg, max_event_age="5 days")

    pairs = pd.read_parquet(os.path.join(state, "pairs"))
    urls_in_pairs = set(pairs.url_a) | set(pairs.url_b)
    assert "u03" not in urls_in_pairs
    # u00/u01 were still VISIBLE to batch 2's join (the governing
    # horizon is the lagging day 5, and Spark cleans state at batch
    # end, not before the join) — so fresh u02 matches both
    assert {frozenset((a, b)) for a, b in zip(pairs.url_a, pairs.url_b)} == {
        frozenset(("u00", "u01")),
        frozenset(("u00", "u02")),
        frozenset(("u01", "u02")),
    }

    # batch 3 touches the same bucket: the now-lagging horizon
    # (20 - 5 = day 15) excludes u00/u01 from the rewrite — event-time
    # eviction lands one touch late (replay-exactness), and the
    # expired members generate no further pairs (destor's bounded
    # fingerprint-cache miss)
    _write("b3.parquet", [("u04", day(21))])
    run_incremental_dedup(spark, in_dir, state, cfg, max_event_age="5 days")

    store = pd.read_parquet(os.path.join(state, "band_store"))
    assert set(store["url"]) == {"u02", "u04"}
    pairs = pd.read_parquet(os.path.join(state, "pairs"))
    got = {frozenset((a, b)) for a, b in zip(pairs.url_a, pairs.url_b)}
    assert frozenset(("u02", "u04")) in got
    assert frozenset(("u00", "u04")) not in got
    assert frozenset(("u01", "u04")) not in got
    # the watermark is persisted monotonically
    import json

    with open(os.path.join(state, "watermark.json")) as f:
        assert pd.Timestamp(json.load(f)["watermark"]) == day(21)


def test_store_scan_is_pruned(spark, cfg, tmp_path):
    """Per-batch store IO stays bounded as the store grows: a batch
    rewrites only the kb partitions its own keys touch, never the
    whole band store — observed on the stream's own files."""
    from pyspark.sql import functions as F

    in_dir = str(tmp_path / "in_prune")
    state = str(tmp_path / "state_prune")
    os.makedirs(in_dir)
    pages, _ = make_corpus(seed=29, n_docs=400)
    pages.iloc[:380].to_parquet(
        os.path.join(in_dir, "big.parquet"), index=False
    )
    from destor_spark.streaming.dedup_stream import run_incremental_dedup

    band_store = os.path.join(state, "band_store")

    def part_files():
        return {
            d: sorted(
                f for f in os.listdir(os.path.join(band_store, d))
                if f.startswith("part-")
            )
            for d in os.listdir(band_store)
            if d.startswith("kb=")
        }

    run_incremental_dedup(spark, in_dir, state, cfg)
    before = part_files()
    # tiny second batch: touches few key buckets
    pages.iloc[380:382].to_parquet(
        os.path.join(in_dir, "tiny.parquet"), index=False
    )
    run_incremental_dedup(spark, in_dir, state, cfg)
    after = part_files()

    # the kb partitions the 2 docs' band keys land in
    from destor_spark.operators import lsh as lsh_op
    from destor_spark.plans.pipeline import signatures_stage

    tiny = spark.createDataFrame(pages.iloc[380:382])
    sigs = signatures_stage(tiny, cfg)
    touched = {
        f"kb={r['kb']}"
        for r in lsh_op.explode_bands(sigs)
        .select(F.pmod("key", F.lit(64)).alias("kb"))
        .distinct()
        .collect()
    }
    untouched = set(before) - touched
    # (a) the trigger left every partition it does not touch as it was
    # (same part files), and there are such partitions ...
    assert untouched, (sorted(touched), len(before))
    for d in untouched:
        assert after[d] == before[d], d
    # ... (b) it rewrote every partition it does touch ...
    for d in touched:
        assert d in after and after[d] != before.get(d), d
    # ... and (c) the stream's own store read (read_band_store, a
    # broadcast left-semi join on the batch's kb values) carries kb as
    # a DYNAMIC partition filter in its physical plan: directory-level
    # pruning, no file of an untouched kb is even opened.
    from destor_spark.streaming.dedup_stream import read_band_store

    new_bands = lsh_op.explode_bands(sigs).select(
        "url",
        "warc_ts",
        F.lit(1).alias("bid"),
        "band",
        "key",
        F.pmod("key", F.lit(64)).alias("kb"),
    )
    pruned = read_band_store(spark, band_store, new_bands)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    part_filters = plan.split("PartitionFilters: [")[1].split("]")[0]
    assert "dynamicpruningexpression(kb#" in part_filters, plan


def test_zero_row_file_writes_no_store(spark, cfg, tmp_path):
    """A trigger over a zero-row file is an empty micro-batch: it
    creates no store dir and no watermark record (only the stream's
    checkpoint), and the next file's trigger then yields the same
    stores as a run that never saw the empty file (bid aside: the
    empty trigger used batch id 0)."""
    import json

    pages, _ = make_corpus(seed=3, n_docs=20)
    runs = {}
    for name, files in (
        ("with_empty", [pages.iloc[:0], pages]),
        ("plain", [pages]),
    ):
        in_dir = str(tmp_path / f"in_{name}")
        state = str(tmp_path / f"state_{name}")
        os.makedirs(in_dir)
        for i, df in enumerate(files):
            df.to_parquet(os.path.join(in_dir, f"f{i}.parquet"), index=False)
            run_incremental_dedup(
                spark, in_dir, state, cfg, max_event_age="3650 days"
            )
            if len(df) == 0:
                assert os.listdir(state) == ["_checkpoint"], os.listdir(state)
        runs[name] = state

    def stores(state):
        out = {}
        for store, key in (
            ("band_store", ["url", "band", "key"]),
            ("signatures", ["url"]),
            ("pairs", ["url_a", "url_b"]),
        ):
            df = pd.read_parquet(os.path.join(state, store))
            bids = set(df.pop("bid").astype(int))
            out[store] = (bids, df.sort_values(key).reset_index(drop=True))
        with open(os.path.join(state, "watermark.json")) as f:
            out["watermark"] = json.load(f)["watermark"]
        return out

    got, want = stores(runs["with_empty"]), stores(runs["plain"])
    assert got["watermark"] == want["watermark"]
    for store in ("band_store", "signatures", "pairs"):
        assert got[store][0] == {1} and want[store][0] == {0}, store
        assert len(want[store][1]), store
        pd.testing.assert_frame_equal(
            got[store][1], want[store][1], check_dtype=False
        )


def test_stream_exact_dedup_watermark(spark, tmp_path):
    """Watermarked streaming exact dedup: duplicates within the
    watermark horizon are dropped (destor's bounded fingerprint cache,
    fast15 sec 4.1)."""
    import os

    from destor_spark.streaming.dedup_stream import stream_exact_dedup
    from destor_spark.synth import make_corpus

    in_dir = str(tmp_path / "in2")
    os.makedirs(in_dir)
    pages, truth = make_corpus(seed=13, n_docs=150)
    pages.to_parquet(os.path.join(in_dir, "all.parquet"), index=False)

    out = stream_exact_dedup(spark, in_dir, watermark="10 days")
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from dedup_out").toPandas()
    # exactly one row per distinct text survives
    n_unique = pages["text"].nunique()
    assert len(got) == n_unique
    assert got["content_sha"].nunique() == len(got)


def test_stateful_keep_first_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-hash state suppresses later copies
    even when they arrive in later micro-batches."""
    import os

    from destor_spark.streaming.stateful_dedup import stateful_exact_dedup
    from destor_spark.synth import make_corpus

    in_dir = str(tmp_path / "in3")
    os.makedirs(in_dir)
    pages, _ = make_corpus(seed=17, n_docs=120)
    # two files => at least two micro-batches (maxFilesPerTrigger=2
    # with availableNow still partitions work into batches)
    pages.iloc[:60].to_parquet(os.path.join(in_dir, "a.parquet"), index=False)
    pages.iloc[60:].to_parquet(os.path.join(in_dir, "b.parquet"), index=False)

    out = stateful_exact_dedup(spark, in_dir)
    q = (
        out.writeStream.format("memory")
        .queryName("stateful_out")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from stateful_out").toPandas()
    assert len(got) == pages["text"].nunique()
    assert got["content_sha"].nunique() == len(got)
    # the emitted row per hash is the (warc_ts, url)-minimum... within
    # its first-arriving batch; across-batch suppression is the claim
    assert got["url"].is_unique


def _write_pages(path, rows, text_fn=None):
    """rows: list of (url, ts[, text])."""
    recs = []
    for r in rows:
        u, ts = r[0], r[1]
        text = r[2] if len(r) > 2 else "shared duplicated body text " * 20
        recs.append(
            {"url": u, "warc_ts": ts, "html": b"", "text": text, "lang": "en"}
        )
    df = pd.DataFrame(recs)
    df["warc_ts"] = df["warc_ts"].astype("datetime64[us]")
    df.to_parquet(path, index=False)


def test_same_batch_late_arrival_not_dropped(spark, cfg, tmp_path):
    """The late-data drop must lag one batch (Spark watermark
    semantics): a row arriving in the SAME batch as the new watermark
    high-point is on time and must be dedup-checked, even if it is
    older than new_max - age.  Regression: the horizon was derived
    from the current batch's own max, silently losing such rows."""
    in_dir = str(tmp_path / "in_lag")
    state = str(tmp_path / "state_lag")
    os.makedirs(in_dir)
    day = lambda d: pd.Timestamp("2024-01-01") + pd.Timedelta(days=d)  # noqa: E731

    _write_pages(
        os.path.join(in_dir, "b1.parquet"),
        [("u10", day(10), "some entirely unrelated first text " * 20)],
    )
    run_incremental_dedup(spark, in_dir, state, cfg, max_event_age="5 days")

    # batch 2: u20 sets the new max (day 30); u21 (day 22) is older
    # than 30 - 5 = day 25 but on time vs the LAGGING horizon
    # (10 - 5 = day 5).  u20/u21 share text => the pair must be found.
    _write_pages(
        os.path.join(in_dir, "b2.parquet"),
        [("u20", day(30)), ("u21", day(22))],
    )
    run_incremental_dedup(spark, in_dir, state, cfg, max_event_age="5 days")

    pairs = pd.read_parquet(os.path.join(state, "pairs"))
    got = {frozenset((a, b)) for a, b in zip(pairs.url_a, pairs.url_b)}
    assert frozenset(("u20", "u21")) in got
    # eviction is LAZY (replay-exactness: a replayed batch must see
    # its pre-batch state, like Spark's versioned state store): u21
    # (day 22, below the advanced horizon 25) stays in the files until
    # the partition's next touch, where the then-lagging horizon
    # excludes it from the rewrite
    store = pd.read_parquet(os.path.join(state, "band_store"))
    assert {"u20", "u21"} <= set(store["url"])


def test_replay_after_checkpoint_loss_is_idempotent(spark, cfg, tmp_path):
    """foreachBatch is at-least-once: replaying the whole input (e.g.
    lost checkpoint) must not duplicate rows in the durable stores —
    the bid-partitioned dynamic overwrite rewrites each batch's own
    partitions.  Regression: blind append doubled pairs and sigs."""
    import shutil as _sh

    in_dir = str(tmp_path / "in_replay")
    state = str(tmp_path / "state_replay")
    os.makedirs(in_dir)
    day = lambda d: pd.Timestamp("2024-01-01") + pd.Timedelta(days=d)  # noqa: E731
    _write_pages(os.path.join(in_dir, "b1.parquet"), [("u00", day(1))])
    _write_pages(os.path.join(in_dir, "b2.parquet"), [("u01", day(2))])
    run_incremental_dedup(spark, in_dir, state, cfg)
    first = pd.read_parquet(os.path.join(state, "pairs"))[
        ["url_a", "url_b"]
    ].sort_values(["url_a", "url_b"]).reset_index(drop=True)

    _sh.rmtree(os.path.join(state, "_checkpoint"))
    run_incremental_dedup(spark, in_dir, state, cfg)
    second = pd.read_parquet(os.path.join(state, "pairs"))[
        ["url_a", "url_b"]
    ].sort_values(["url_a", "url_b"]).reset_index(drop=True)

    pd.testing.assert_frame_equal(first, second)
    assert len(second) == len(second.drop_duplicates())
    sigs = pd.read_parquet(os.path.join(state, "signatures"))
    assert sigs.groupby(["url", "bid"], observed=True).size().max() == 1


def test_recrawl_emits_no_self_pair_and_no_fanout(spark, cfg, tmp_path):
    """A url re-crawled in a later batch exists in both the batch and
    the stores: the bucket then holds the url twice and the signature
    table twice.  Pair generation must not emit the degenerate (X, X)
    pair, and verification must use one (the newest) signature per url
    so each pair appears once."""
    in_dir = str(tmp_path / "in_recrawl")
    state = str(tmp_path / "state_recrawl")
    os.makedirs(in_dir)
    day = lambda d: pd.Timestamp("2024-01-01") + pd.Timedelta(days=d)  # noqa: E731
    _write_pages(os.path.join(in_dir, "b1.parquet"), [("u00", day(1))])
    # batch 2: u00 re-crawled (identical text, newer ts) + u01 duplicate
    _write_pages(
        os.path.join(in_dir, "b2.parquet"),
        [("u00", day(2)), ("u01", day(2))],
    )
    # files_per_trigger=1 forces the two files into SEPARATE
    # micro-batches, so the re-crawl actually hits the STORED copy
    # (one merged batch would only exercise the in-batch guard)
    run_incremental_dedup(spark, in_dir, state, cfg, files_per_trigger=1)
    pairs = pd.read_parquet(os.path.join(state, "pairs"))
    assert not (pairs["url_a"] == pairs["url_b"]).any(), "self-pair emitted"
    u = pairs[["url_a", "url_b"]].apply(frozenset, axis=1)
    assert (u == frozenset(("u00", "u01"))).sum() == 1, "pair fanned out"


def test_watermark_replay_uses_original_prev(spark, cfg, tmp_path):
    """At-least-once replay contract for the event-time watermark: the
    persisted record is keyed by batch id and carries the prev value
    that governed the original attempt, so a batch replayed AFTER its
    first attempt advanced the watermark (crash between the watermark
    write and the durable outputs) re-derives the SAME horizons.
    Regression: reading the advanced value back as `prev` turned the
    lagging drop horizon into the batch's own max on retry — on-time
    rows the first attempt kept were silently lost."""
    import json

    in_dir = str(tmp_path / "in_wmreplay")
    state = str(tmp_path / "state_wmreplay")
    os.makedirs(in_dir)
    day = lambda d: pd.Timestamp("2024-01-01") + pd.Timedelta(days=d)  # noqa: E731
    shared = "the body both copies share " * 20

    _write_pages(
        os.path.join(in_dir, "b1.parquet"), [("uA", day(10), shared)]
    )
    run_incremental_dedup(spark, in_dir, state, cfg, max_event_age="5 days")

    # Simulate the crashed first attempt of batch 1: it advanced the
    # watermark record to day 30 (bid-keyed, carrying the governing
    # prev = day 10 AND the batch-content fingerprint) and died before
    # writing any durable output.  The fingerprint is computed exactly
    # as production computes it, over the rows batch 1 will contain.
    from pyspark.sql import functions as F

    fp_row = (
        spark.createDataFrame(
            [
                ("uB", day(30).to_pydatetime()),
                ("uC", day(22).to_pydatetime()),
            ],
            "url string, warc_ts timestamp",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("warc_ts").alias("lo"),
            F.expr("bit_xor(xxhash64(url))").alias("uh"),
        )
        .first()
    )
    batch_fp = [int(fp_row["n"]), str(fp_row["lo"]), int(fp_row["uh"])]
    with open(os.path.join(state, "watermark.json"), "w") as f:
        json.dump(
            {
                "watermark": day(30).isoformat(),
                "bid": 1,
                "fp": batch_fp,
                "prev": day(10).isoformat(),
            },
            f,
        )
    # The "replay" of batch 1: uB sets the max the crashed attempt saw;
    # uC (day 22) is on time vs the GOVERNING horizon (10 - 5 = day 5)
    # and duplicates uA.  Deriving prev from the advanced record would
    # put the drop bar at day 25 and lose both uC and the (uA, uC) pair.
    _write_pages(
        os.path.join(in_dir, "b2.parquet"),
        [("uB", day(30), "a totally unrelated body " * 20),
         ("uC", day(22), shared)],
    )
    run_incremental_dedup(spark, in_dir, state, cfg, max_event_age="5 days")

    pairs = pd.read_parquet(os.path.join(state, "pairs"))
    got = {frozenset((a, b)) for a, b in zip(pairs.url_a, pairs.url_b)}
    assert frozenset(("uA", "uC")) in got
    with open(os.path.join(state, "watermark.json")) as f:
        st = json.load(f)
    assert pd.Timestamp(st["watermark"]) == day(30)
    assert st["bid"] == 1
    assert pd.Timestamp(st["prev"]) == day(10)


def test_watermark_bid_collision_is_not_a_replay(spark, cfg, tmp_path):
    """The replay branch requires the batch-content fingerprint to
    match, not just the bid: a bid that merely collides (checkpoint
    lost, state kept — batch ids restart) with DIFFERENT data must be
    governed by the persisted watermark (monotonic branch), so its
    late rows are dropped rather than admitted under a stale prev."""
    import json

    in_dir = str(tmp_path / "in_wmcollide")
    state = str(tmp_path / "state_wmcollide")
    os.makedirs(in_dir)
    day = lambda d: pd.Timestamp("2024-01-01") + pd.Timedelta(days=d)  # noqa: E731
    shared = "the body both copies share " * 20

    _write_pages(
        os.path.join(in_dir, "b1.parquet"), [("uA", day(10), shared)]
    )
    run_incremental_dedup(spark, in_dir, state, cfg, max_event_age="5 days")

    # a record whose bid will collide with the next batch (bid 1) but
    # whose fingerprint belongs to some OTHER batch's content
    with open(os.path.join(state, "watermark.json"), "w") as f:
        json.dump(
            {
                "watermark": day(30).isoformat(),
                "bid": 1,
                "fp": [7, "1999-01-01 00:00:00", 12345],
                "prev": day(10).isoformat(),
            },
            f,
        )
    # uC (day 22) is late vs the PERSISTED watermark's horizon
    # (30 - 5 = day 25); under the stale prev (day 10) it would have
    # been admitted and paired with uA
    _write_pages(
        os.path.join(in_dir, "b2.parquet"),
        [("uB", day(31), "a totally unrelated body " * 20),
         ("uC", day(22), shared)],
    )
    run_incremental_dedup(spark, in_dir, state, cfg, max_event_age="5 days")

    # uC was dropped as late: no (uA, uC) pair (with no duplicates at
    # all, the pairs store is never even created) and no band-store
    # entry for uC
    pairs_dir = os.path.join(state, "pairs")
    if os.path.isdir(pairs_dir):
        pairs = pd.read_parquet(pairs_dir)
        got = {frozenset((a, b)) for a, b in zip(pairs.url_a, pairs.url_b)}
        assert frozenset(("uA", "uC")) not in got
    store = pd.read_parquet(os.path.join(state, "band_store"))
    assert "uC" not in set(store["url"])
    with open(os.path.join(state, "watermark.json")) as f:
        st = json.load(f)
    # monotonic: advanced to the new max, never regressed
    assert pd.Timestamp(st["watermark"]) == day(31)


def test_replay_of_last_batch_preserves_event_window_pairs(
    spark, cfg, tmp_path
):
    """Replay of the LAST batch (commit log truncated after the state
    writes landed — the at-least-once crash window) must regenerate
    identical pairs.  This is why event-time eviction is lazy: an
    eager advanced-horizon rewrite would have physically dropped the
    stored member uM during the original attempt, so the replay's
    join could no longer find (uM, uD) and the bid-partition rewrite
    would lose it."""
    import shutil as _sh

    in_dir = str(tmp_path / "in_lastreplay")
    state = str(tmp_path / "state_lastreplay")
    os.makedirs(in_dir)
    day = lambda d: pd.Timestamp("2024-01-01") + pd.Timedelta(days=d)  # noqa: E731
    t1 = "the first shared body text " * 20
    t2 = "the second shared body text " * 20

    _write_pages(os.path.join(in_dir, "b1.parquet"), [("uM", day(20), t1)])
    run_incremental_dedup(spark, in_dir, state, cfg, max_event_age="5 days")
    # batch 2: uD duplicates stored uM (day 22 — inside the governing
    # lag horizon 15, below the advanced horizon 25); uN/uE share t2
    # so the replay's verified set is non-empty and the bid partition
    # IS rewritten (an empty replay would mask the loss)
    _write_pages(
        os.path.join(in_dir, "b2.parquet"),
        [("uD", day(22), t1), ("uN", day(30), t2), ("uE", day(26), t2)],
    )
    run_incremental_dedup(spark, in_dir, state, cfg, max_event_age="5 days")

    def _pairset():
        p = pd.read_parquet(os.path.join(state, "pairs"))
        return {frozenset((a, b)) for a, b in zip(p.url_a, p.url_b)}

    before = _pairset()
    assert frozenset(("uM", "uD")) in before
    assert frozenset(("uN", "uE")) in before

    # truncate the commit log: Spark replays the last micro-batch
    # against the post-batch store on restart
    commits = os.path.join(state, "_checkpoint", "commits")
    last = max((f for f in os.listdir(commits) if f.isdigit()), key=int)
    os.remove(os.path.join(commits, last))
    crc = os.path.join(commits, f".{last}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    _sh.rmtree(
        os.path.join(state, "_checkpoint", "__tmp_path_dir"),
        ignore_errors=True,
    )
    run_incremental_dedup(spark, in_dir, state, cfg, max_event_age="5 days")

    after = _pairset()
    assert after == before
    p = pd.read_parquet(os.path.join(state, "pairs"))
    assert len(p) == len(p.drop_duplicates(["url_a", "url_b"]))


def test_legacy_flat_store_layout_refused(spark, cfg, tmp_path):
    """A state_dir written by the pre-bid layout (flat pairs part
    files) must be refused up front with a migration message, not
    corrupted by writing bid= partitions next to flat files."""
    import pytest

    in_dir = str(tmp_path / "in_legacy")
    state = str(tmp_path / "state_legacy")
    os.makedirs(in_dir)
    os.makedirs(os.path.join(state, "pairs"))
    pd.DataFrame({"url_a": ["x"], "url_b": ["y"], "est": [1.0]}).to_parquet(
        os.path.join(state, "pairs", "part-00000.parquet"), index=False
    )
    _write_pages(
        os.path.join(in_dir, "b1.parquet"),
        [("u00", pd.Timestamp("2024-01-01"))],
    )
    with pytest.raises(RuntimeError, match="legacy pre-bid store layout"):
        run_incremental_dedup(spark, in_dir, state, cfg)

    # the OLDEST layout: flat append directly in signatures/ (no ub=
    # level at all) must be refused too
    state2 = str(tmp_path / "state_legacy2")
    os.makedirs(os.path.join(state2, "signatures"))
    pd.DataFrame({"url": ["x"], "sig": [[1, 2]]}).to_parquet(
        os.path.join(state2, "signatures", "part-00000.parquet"),
        index=False,
    )
    with pytest.raises(RuntimeError, match="legacy pre-bid store layout"):
        run_incremental_dedup(spark, in_dir, state2, cfg)

    # the url-bucketed layout: signatures/ub=*/bid=* (bid= directories
    # written next to ub= ones would break partition discovery)
    state3 = str(tmp_path / "state_legacy3")
    ub_dir = os.path.join(state3, "signatures", "ub=3", "bid=0")
    os.makedirs(ub_dir)
    pd.DataFrame({"url": ["x"], "sig": [[1, 2]]}).to_parquet(
        os.path.join(ub_dir, "part-00000.parquet"), index=False
    )
    with pytest.raises(RuntimeError, match="legacy pre-bid store layout"):
        run_incremental_dedup(spark, in_dir, state3, cfg)


def test_signature_store_keyed_by_batch_id(spark, cfg, tmp_path):
    """The signature store is partitioned by bid alone: one bid=
    directory per micro-batch, no url-bucket level, and each url stored
    once per batch."""
    in_dir = str(tmp_path / "in_sigbid")
    state = str(tmp_path / "state_sigbid")
    os.makedirs(in_dir)
    day = lambda d: pd.Timestamp("2024-01-01") + pd.Timedelta(days=d)  # noqa: E731
    _write_pages(
        os.path.join(in_dir, "b1.parquet"), [("u00", day(1)), ("u01", day(1))]
    )
    _write_pages(
        os.path.join(in_dir, "b2.parquet"), [("u00", day(2)), ("u02", day(2))]
    )
    run_incremental_dedup(spark, in_dir, state, cfg, files_per_trigger=1)

    sig_store = os.path.join(state, "signatures")
    children = {
        c for c in os.listdir(sig_store) if not c.startswith(("_", "."))
    }
    assert children == {"bid=0", "bid=1"}, children
    for c in children:
        assert not any(
            os.path.isdir(os.path.join(sig_store, c, f))
            for f in os.listdir(os.path.join(sig_store, c))
        ), f"{c} has a nested partition level"
    # each url exactly once per bid
    sigs = pd.read_parquet(sig_store)
    assert sorted(zip(sigs.url, sigs.bid.astype(int))) == [
        ("u00", 0), ("u00", 1), ("u01", 0), ("u02", 1)
    ]


def test_exact_dedup_state_bounded_by_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics: a duplicate arriving
    AFTER the watermark passed the first copy's horizon is NOT dropped
    (state was evicted — destor's bounded-cache miss), while
    duplicates inside the window are.  Plain dropDuplicates kept every
    hash forever (unbounded state), contradicting this contract."""
    from destor_spark.streaming.dedup_stream import stream_exact_dedup

    in_dir = str(tmp_path / "in_bounded")
    os.makedirs(in_dir)
    day = lambda d: pd.Timestamp("2024-01-01") + pd.Timedelta(days=d)  # noqa: E731
    dup = "the recurring page body " * 30
    other = "a completely different filler page " * 30
    other2 = "yet another unrelated page body " * 30
    # Spark evicts dedup state at batch END with the batch's governing
    # watermark, so TWO filler batches are needed: f2's max advances
    # the watermark past uA's expiry (day 0 + 10), f3's commit then
    # performs the eviction, and uC arrives to an empty state in f4.
    files = [
        ("f1.parquet", [("uA", day(0), dup)]),
        ("f2.parquet", [("uF", day(25), other)]),  # advances watermark
        ("f3.parquet", [("uG", day(26), other2)]),  # eviction batch
        ("f4.parquet", [("uC", day(30), dup)]),  # same sha, state gone
    ]
    for i, (name, rows) in enumerate(files):
        p = os.path.join(in_dir, name)
        _write_pages(p, rows)
        os.utime(p, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    out = stream_exact_dedup(
        spark, in_dir, watermark="10 days", files_per_trigger=1
    )
    q = (
        out.writeStream.format("memory")
        .queryName("bounded_out")
        .option("checkpointLocation", str(tmp_path / "ck_bounded"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select url from bounded_out").toPandas()
    assert set(got["url"]) == {"uA", "uF", "uG", "uC"}, got


def test_streaming_cumulative_pairs_match_batch_pipeline(
    spark, cfg, tmp_path
):
    """Randomized cross-engine gate: with retention effectively
    disabled (huge value_len, no max_event_age), the UNION of
    per-batch verified pairs over any batch split must equal the batch
    pipeline's verified LSH pair set on the same corpus — each pair is
    emitted exactly when its later member arrives, against the
    accumulated store (destor's index-buffer + kv cascade,
    /root/reference/src/index/index.c:150-216).  Buckets stay under
    the default cap at this size, so the all-pairs rule applies in
    both engines and set equality is exact."""
    from destor_spark.plans.pipeline import run_pipeline

    in_dir = str(tmp_path / "in_xgate")
    state = str(tmp_path / "state_xgate")
    os.makedirs(in_dir)

    pages, _ = make_corpus(seed=17, n_docs=300)
    # three deterministic batches in url order
    order = pages.sort_values("url").reset_index(drop=True)
    for i in range(3):
        order.iloc[i::3].to_parquet(
            os.path.join(in_dir, f"b{i}.parquet"), index=False
        )
        run_incremental_dedup(
            spark, in_dir, state, cfg, value_len=100_000,
            files_per_trigger=1,
        )

    got_p = pd.read_parquet(os.path.join(state, "pairs"))
    got = {frozenset((a, b)) for a, b in zip(got_p.url_a, got_p.url_b)}

    sdf = spark.createDataFrame(pages)
    res = run_pipeline(sdf, cfg, use_simhash=False)
    want_p = res.verified_pairs.select("url_a", "url_b").toPandas()
    want = {frozenset((a, b)) for a, b in zip(want_p.url_a, want_p.url_b)}

    assert got == want


def test_stateful_keep_first_null_ts_batch_parity():
    """_keep_first must order null warc_ts FIRST (Spark ASC = NULLS
    FIRST, the batch engines' rule) regardless of chunk arrival order,
    and break all-null ties by url."""
    import pandas as pd

    from destor_spark.streaming.stateful_dedup import _keep_first

    class _State:
        exists = False

        def update(self, v):
            self.exists = True

    t = pd.Timestamp("2024-01-05")
    a = pd.DataFrame({"url": ["v"], "warc_ts": [t]})
    b = pd.DataFrame({"url": ["u"], "warc_ts": [pd.NaT]})
    for chunks in ([a, b], [b, a]):
        out = list(_keep_first(("sha",), iter(chunks), _State()))[0]
        assert out["url"].iat[0] == "u", chunks  # null ts wins
    # two all-null chunks: url tie-break, order-independent
    c = pd.DataFrame({"url": ["z"], "warc_ts": [pd.NaT]})
    for chunks in ([b, c], [c, b]):
        out = list(_keep_first(("sha",), iter(chunks), _State()))[0]
        assert out["url"].iat[0] == "u", chunks
