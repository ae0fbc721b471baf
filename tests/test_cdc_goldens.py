"""CDC golden-fixture tests (FIXTURES.md §4): hand-built Debezium envelopes
replicating /root/reference/README.md:331-332 shapes — snapshot reads,
inserts, updates/deletes with full before-images (REPLICA IDENTITY FULL,
init.sql:10), at-least-once duplicates, and null-value tombstones — driven
through the engine's decode + upsert path."""

import json
import os
import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from ez_cdc_spark.streaming.cdc import ENVELOPE_JSON_SCHEMA, upsert_batch
from ez_cdc_spark.streaming.replay import checkpoint_dir

from tests.conftest import stop_and_await


def _env(op, id_, lsn, first=None, last=None, email=None, before=None, snapshot="false"):
    row = (
        None
        if op == "d"
        else {"id": id_, "first_name": first, "last_name": last, "email": email}
    )
    return {
        "before": before,
        "after": row,
        "source": {
            "version": "2.4.0.Final",
            "connector": "postgresql",
            "name": "cdctest",
            "ts_ms": 1703166387948 + lsn,
            "snapshot": snapshot,
            "db": "cdctest",
            "sequence": json.dumps([None, str(24284336 + lsn)]),
            "schema": "public",
            "table": "customers",
            "txId": 731 + lsn,
            "lsn": lsn,
            "xmin": None,
        },
        "op": op,
        "ts_ms": 1703166388457 + lsn,
        "kafka_timestamp": 1703166388741 + lsn,
    }


FIXTURE = [
    # snapshot backfill (op='r'), then interleaved c/u/d in lsn order
    _env("r", 1, 10, "alex", "foley", "alex.foley", snapshot="true"),
    _env("r", 2, 11, "axel", "foley", "axel.foley", snapshot="last"),
    _env("c", 3, 20, "carol", "king", "carol@k"),
    # update carries the FULL before-image (replica identity full)
    _env(
        "u", 1, 30, "alexander", "foley", "alex.foley",
        before={"id": 1, "first_name": "alex", "last_name": "foley", "email": "alex.foley"},
    ),
    # delete carries full before-image too
    _env("d", 2, 40, before={"id": 2, "first_name": "axel", "last_name": "foley", "email": "axel.foley"}),
    # at-least-once: duplicate of lsn 30, verbatim
    _env(
        "u", 1, 30, "alexander", "foley", "alex.foley",
        before={"id": 1, "first_name": "alex", "last_name": "foley", "email": "alex.foley"},
    ),
    # late re-insert of deleted key
    _env("c", 2, 50, "axel2", "foley", "axel2@f"),
]


@pytest.fixture(scope="module")
def fixture_dir(spark):
    d = tempfile.mkdtemp(prefix="cdc_golden_")
    with open(os.path.join(d, "part-000.jsonl"), "w") as f:
        for e in FIXTURE:
            f.write(json.dumps(e) + "\n")
        f.write("\n")  # blank line = tombstone-ish null record, reader skips
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_envelope_decode_shapes(spark, fixture_dir):
    df = spark.read.schema(ENVELOPE_JSON_SCHEMA).json(fixture_dir)
    collected = df.collect()
    assert len(collected) == 7  # 6 distinct + 1 duplicate lsn kept at decode stage
    rows = {r["source"]["lsn"]: r for r in collected}
    assert len(rows) == 6
    # insert semantics: before null, after populated (README.md:331)
    assert rows[20]["before"] is None and rows[20]["after"]["first_name"] == "carol"
    # update: full before-image present
    assert rows[30]["before"]["first_name"] == "alex"
    assert rows[30]["after"]["first_name"] == "alexander"
    # delete: after null, before full
    assert rows[40]["after"] is None and rows[40]["before"]["email"] == "axel.foley"
    # snapshot enum domain
    assert {r["source"]["snapshot"] for r in rows.values()} <= {
        "true", "last", "false", "incremental"
    }


def test_upsert_materialization_golden(spark, fixture_dir):
    """Final state == DuckDB replay of the same DML (FIXTURES §4 scenario 1)."""
    state_dir = tempfile.mkdtemp(prefix="cdc_state_")
    try:
        stream = spark.readStream.schema(ENVELOPE_JSON_SCHEMA).json(fixture_dir)
        q = (
            stream.writeStream.foreachBatch(upsert_batch(state_dir))
            .option("checkpointLocation", checkpoint_dir())
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        state = (
            spark.read.parquet(os.path.join(state_dir, "current"))
            .select("id", "lsn", "after.first_name", "after.email")
            .orderBy("id")
            .collect()
        )
        got = [(r["id"], r["lsn"], r["first_name"], r["email"]) for r in state]
        # replaying INSERT/UPDATE/DELETE in lsn order by hand:
        # id1: r@10 then u@30 -> alexander; id2: r@11, d@40, c@50 -> axel2; id3: c@20
        assert got == [
            (1, 30, "alexander", "alex.foley"),
            (2, 50, "axel2", "axel2@f"),
            (3, 20, "carol", "carol@k"),
        ]
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


def test_upsert_idempotent_on_batch_replay(spark, fixture_dir):
    """Re-applying the same batchId is a no-op (crash-replay semantics)."""
    state_dir = tempfile.mkdtemp(prefix="cdc_state_")
    try:
        df = spark.read.schema(ENVELOPE_JSON_SCHEMA).json(fixture_dir)
        apply = upsert_batch(state_dir)
        apply(df, 0)
        first = spark.read.parquet(os.path.join(state_dir, "current")).collect()
        apply(df, 0)  # replay same batch id
        second = spark.read.parquet(os.path.join(state_dir, "current")).collect()
        assert sorted(map(tuple, first)) == sorted(map(tuple, second))
        # applying as a NEW batch id is also a semantic no-op (pure merge)
        apply(df, 1)
        third = spark.read.parquet(os.path.join(state_dir, "current")).collect()
        assert sorted(map(tuple, first)) == sorted(map(tuple, third))
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


def test_late_data_window_drop_vs_upsert_keep(spark, tmp_path):
    """FIXTURES §4 scenario 4: rows later than the watermark are dropped by
    windowed aggs (append mode) but still applied by the lsn-keyed upsert.

    Spark filters late events with the PREVIOUS batch's watermark and evicts
    state with the current one (SPARK-40925), so the late row must arrive at
    least two batches after the row that advanced the watermark — hence the
    on-time middle file.
    """

    def _ev(event_id, ts):
        return {"event_id": event_id, "ts": ts, "user_id": 1,
                "event_type": "view", "value": 1.0, "props": "{}"}

    # batch 0: minutes 0 + 120 (advances watermark to 01:50:30 for batch 1)
    # batch 1: on-time row — window 00:00 evicted/emitted with n=1
    # batch 2: late row back at minute 1 — dropped by the late-event filter
    rows1 = [_ev(1, "2024-01-01T00:00:30.000Z"), _ev(2, "2024-01-01T02:00:30.000Z")]
    rows2 = [_ev(3, "2024-01-01T02:05:00.000Z")]
    rows3 = [_ev(4, "2024-01-01T00:01:00.000Z")]
    src = tmp_path / "late_src"
    src.mkdir()
    for i, rows in enumerate([rows1, rows2, rows3]):
        f = src / f"{'abc'[i]}-part-{i:03d}.jsonl"
        f.write_text("\n".join(json.dumps(r) for r in rows) + "\n")
        mt = 1000000000 + 100 * i  # strictly later mtime → later batch
        os.utime(f, (mt, mt))

    schema = (
        "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
        "value DOUBLE, props STRING"
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.count("*").alias("n"))
        .select(F.date_format("window.start", "HH:mm").alias("w"), "n")
    )
    name = "late_drop_check"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = {r["w"]: r["n"] for r in spark.table(name).collect()}
    # late event (00:01) arrives after window 00:00 closed → dropped: n stays 1
    assert out.get("00:00") == 1
    dropped = sum(
        s["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for s in p["stateOperators"]
    )
    assert dropped == 1


def test_upsert_rewrites_only_touched_buckets(spark):
    """Scale property of the bucketed state: a batch touching one key leaves
    every other bucket's files untouched on disk (no full-state rewrite)."""
    import glob

    def _env_row(pk, op, lsn, name):
        row = None if op == "d" else {"id": pk, "first_name": name, "last_name": "l", "email": "e"}
        before = None if op == "c" else {"id": pk, "first_name": "prev", "last_name": "l", "email": "e"}
        return {
            "before": before, "after": row,
            "source": {"version": "t", "connector": "t", "name": "t", "ts_ms": lsn,
                       "snapshot": "false", "db": "t", "sequence": "[]",
                       "schema": "public", "table": "t", "txId": lsn, "lsn": lsn,
                       "xmin": None},
            "op": op, "ts_ms": lsn, "kafka_timestamp": lsn,
        }

    from ez_cdc_spark.streaming.cdc import ENVELOPE_JSON_SCHEMA, upsert_batch

    def _df(envs):
        return spark.read.schema(ENVELOPE_JSON_SCHEMA).json(
            spark.sparkContext.parallelize([json.dumps(e) for e in envs])
        )

    state_dir = tempfile.mkdtemp(prefix="cdc_buckets_")
    try:
        apply = upsert_batch(state_dir, n_buckets=8)
        apply(_df([_env_row(pk, "c", pk, f"n{pk}") for pk in range(50)]), 0)
        cur = os.path.join(state_dir, "current")
        before_files = {
            f: os.path.getmtime(f)
            for f in glob.glob(os.path.join(cur, "bucket=*", "*.parquet"))
        }
        assert len(glob.glob(os.path.join(cur, "bucket=*"))) == 8

        apply(_df([_env_row(1, "u", 100, "updated")]), 1)
        after_files = {
            f: os.path.getmtime(f)
            for f in glob.glob(os.path.join(cur, "bucket=*", "*.parquet"))
        }
        changed_dirs = {
            os.path.basename(os.path.dirname(f))
            for f in set(before_files) ^ set(after_files)
        } | {
            os.path.basename(os.path.dirname(f))
            for f in before_files
            if f in after_files and before_files[f] != after_files[f]
        }
        assert len(changed_dirs) == 1, f"expected 1 rewritten bucket, got {changed_dirs}"

        # and the state content is correct
        got = {
            r["id"]: r["after"]["first_name"]
            for r in spark.read.parquet(cur).collect()
        }
        assert got[1] == "updated" and len(got) == 50
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


def test_snapshot_bootstrap_semantics(spark):
    """R2: an op='r' snapshot batch merged ahead of the change stream —
    snapshot-only keys survive with their snapshot image, streamed changes
    overwrite by higher lsn, and a streamed delete removes a snapshot key
    (reference README.md:331 snapshot enum; SURVEY §3.2)."""
    from ez_cdc_spark.streaming.cdc import snapshot_envelopes

    state_dir = tempfile.mkdtemp(prefix="cdc_snap_")
    try:
        apply = upsert_batch(state_dir, n_buckets=4)
        snap = snapshot_envelopes(spark, n_keys=3)  # keys 0,1,2 lsn<0
        assert snap.select("op").distinct().collect()[0]["op"] == "r"
        flags = {r["source"]["snapshot"] for r in snap.collect()}
        assert flags == {"true", "last"}
        apply(snap, 0)
        changes = spark.read.schema(ENVELOPE_JSON_SCHEMA).json(
            spark.sparkContext.parallelize(
                [
                    json.dumps(
                        _env("u", 1, 30, "upd", "x", "u@x",
                             before={"id": 1, "first_name": "snap", "last_name": "1",
                                     "email": "1@snap"})
                    ),
                    json.dumps(
                        _env("d", 2, 40,
                             before={"id": 2, "first_name": "snap", "last_name": "2",
                                     "email": "2@snap"})
                    ),
                ]
            )
        )
        apply(changes, 1)
        got = {
            r["id"]: (r["lsn"], r["after"]["first_name"])
            for r in spark.read.parquet(os.path.join(state_dir, "current")).collect()
        }
        assert got == {0: (-100000, "snap"), 1: (30, "upd")}
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)


def test_envelope_schema_drift_tolerance(spark):
    """R10-adjacent: decode must tolerate wire drift — unknown extra fields
    are dropped by the declared reader schema, and missing nullable fields
    decode as NULL instead of failing the batch (Debezium connectors add
    fields across versions; a reader pinned to its schema must not care)."""
    extra = json.dumps(
        {**_env("c", 9, 99, "drift", "case", "d@c"), "brand_new_field": {"x": 1}}
    )
    missing = json.dumps(
        {"after": {"id": 10, "first_name": "min", "last_name": None, "email": None},
         "op": "c", "source": {"lsn": 100}}
    )
    df = spark.read.schema(ENVELOPE_JSON_SCHEMA).json(
        spark.sparkContext.parallelize([extra, missing])
    )
    rows = {r["source"]["lsn"]: r for r in df.collect()}
    assert rows[99]["after"]["first_name"] == "drift"  # extra field ignored
    assert rows[100]["after"]["id"] == 10
    assert rows[100]["ts_ms"] is None and rows[100]["source"]["txId"] is None


def test_upsert_state_growth_stays_bucket_bounded(spark, tmp_path):
    """T9 at larger state (design-for-100x check): with state much bigger
    than one batch, a micro-batch must read and rewrite ONLY the state
    buckets its keys hash into — the property that keeps per-batch work
    proportional to batch size, not state size, as state grows. Verified
    by bucket-dir mtimes: an untouched bucket's files are never rewritten.
    """
    import time

    n_buckets = 64
    state = str(tmp_path / "state")
    os.makedirs(state)
    apply = upsert_batch(state, n_buckets=n_buckets)

    def batch(rows):
        return spark.createDataFrame(
            rows,
            "before struct<id:bigint>, after struct<id:bigint, val:string>, "
            "op string, source struct<lsn:bigint>",
        )

    # Backfill: 10k keys -> state spans all 64 buckets, ~156 keys/bucket.
    apply(
        batch([(None, {"id": i, "val": f"v{i}"}, "c", {"lsn": i}) for i in range(10_000)]),
        0,
    )
    cur = os.path.join(state, "current")
    dirs = [d for d in os.listdir(cur) if d.startswith("bucket=")]
    assert len(dirs) == n_buckets
    before_mtime = {d: os.path.getmtime(os.path.join(cur, d)) for d in dirs}
    time.sleep(0.05)  # ensure rewritten dirs get a distinct mtime

    # Incremental batch: 5 updates + 1 delete over the 10k-key state.
    keys = [3, 777, 4242, 9001, 9999]
    apply(
        batch(
            [(None, {"id": k, "val": f"new{k}"}, "u", {"lsn": 100_000 + k}) for k in keys]
            + [({"id": 5000}, None, "d", {"lsn": 200_000})]
        ),
        1,
    )
    changed = {
        d
        for d in dirs
        if os.path.getmtime(os.path.join(cur, d)) != before_mtime[d]
    }
    # 6 distinct keys can touch at most 6 of the 64 buckets
    assert len(changed) <= 6, f"batch rewrote {len(changed)} buckets: {sorted(changed)}"

    final = spark.read.parquet(cur)
    assert final.count() == 9_999  # 10k inserts - 1 delete
    got = {
        r["id"]: r["after"]["val"]
        for r in final.filter(F.col("id").isin(keys + [5000])).collect()
    }
    assert got == {k: f"new{k}" for k in keys}  # updates applied, delete gone


def _flat_batch(spark, rows):
    """A micro-batch in the minimal envelope shape upsert_batch reads."""
    return spark.createDataFrame(
        rows,
        "before struct<id:bigint>, after struct<id:bigint, val:string>, "
        "op string, source struct<lsn:bigint>",
    )


def test_upsert_keeps_distinct_keys_sharing_an_lsn(spark, tmp_path):
    """The at-least-once collapse is per (key, lsn), not per lsn: five
    snapshot reads of different keys stamped with one lsn all survive,
    while a verbatim re-sent envelope still folds into its original —
    in its own batch and when re-sent behind a newer change."""
    state = str(tmp_path / "state")
    apply = upsert_batch(state, n_buckets=4)
    reads = [(None, {"id": i, "val": f"v{i}"}, "r", {"lsn": 777}) for i in range(5)]
    apply(_flat_batch(spark, reads + [reads[2]]), 0)
    cur = os.path.join(state, "current")

    def state_rows():
        return sorted(
            (r["id"], r["lsn"], r["after"]["val"])
            for r in spark.read.parquet(cur).collect()
        )

    assert state_rows() == [(i, 777, f"v{i}") for i in range(5)]
    update = (None, {"id": 1, "val": "new"}, "u", {"lsn": 800})
    apply(_flat_batch(spark, [update, reads[1], reads[3]]), 1)
    assert state_rows() == [
        (0, 777, "v0"), (1, 800, "new"), (2, 777, "v2"), (3, 777, "v3"), (4, 777, "v4")
    ]


def test_upsert_job_budget_and_one_file_per_bucket(spark, tmp_path):
    """Per-batch cost and layout of the T9 merge. A non-replayed batch over
    an existing state runs a pinned number of Spark jobs (a change may
    lower the pin, never raise it), a replayed batch id runs none, and
    every bucket dir holds exactly one parquet file. Coalescing is off so
    the merge shuffle keeps its full width: a bucket spread over several
    tasks would then show up as several files."""
    import glob

    sc = spark.sparkContext
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    state = str(tmp_path / "state")
    apply = upsert_batch(state, n_buckets=16)

    def jobs_of(df, batch_id, tag):
        group = f"upsert-budget-{tag}-{os.getpid()}"
        sc.setJobGroup(group, "upsert job budget")
        try:
            apply(df, batch_id)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    try:
        apply(
            _flat_batch(
                spark,
                [(None, {"id": i, "val": f"v{i}"}, "c", {"lsn": i}) for i in range(2_000)],
            ),
            0,
        )
        changes = _flat_batch(
            spark,
            [(None, {"id": i, "val": f"u{i}"}, "u", {"lsn": 10_000 + i}) for i in range(0, 2_000, 7)]
            + [({"id": 5}, None, "d", {"lsn": 20_000})]
            + [(None, {"id": 3_000, "val": "n"}, "c", {"lsn": 20_001})],
        )
        assert jobs_of(changes, 1, "apply") <= 5
        assert jobs_of(changes, 1, "replay") == 0
    finally:
        spark.conf.set(key, saved)
    cur = os.path.join(state, "current")
    dirs = glob.glob(os.path.join(cur, "bucket=*"))
    assert len(dirs) == 16
    files = {os.path.basename(d): len(glob.glob(os.path.join(d, "*.parquet"))) for d in dirs}
    assert set(files.values()) == {1}, files
    got = {r["id"]: r["after"]["val"] for r in spark.read.parquet(cur).collect()}
    assert len(got) == 2_000 and 5 not in got
    assert got[7] == "u7" and got[8] == "v8" and got[3_000] == "n"

def test_t13_aggregate_maintenance_incremental_and_idempotent(spark, tmp_path):
    """T13 design-for-100x check: the maintained per-domain aggregate (a)
    equals a recompute from final state after every batch, (b) rewrites
    ONLY the aggregate buckets the batch touched (mtime check, same bound
    as the T9 merge), and (c) is unchanged by an at-least-once replay of
    an already-applied batch (marker + recompute-from-state idempotency).
    """
    import time

    from ez_cdc_spark.streaming.cdc import upsert_with_agg_batch

    n_buckets = 32
    state = str(tmp_path / "state")
    os.makedirs(state)
    apply = upsert_with_agg_batch(state, n_buckets=n_buckets)

    def batch(rows):
        return spark.createDataFrame(
            rows,
            "before struct<id:bigint>, "
            "after struct<id:bigint, email:string>, "
            "op string, source struct<lsn:bigint>",
        )

    def mk(i, dom):
        return (None, {"id": i, "email": f"u{i}@{dom}"}, "c", {"lsn": i})

    # Backfill: 2k keys across 4 domains -> every bucket populated.
    doms = ["a.com", "b.com", "c.com", "d.com"]
    apply(batch([mk(i, doms[i % 4]) for i in range(2000)]), 0)
    agg_path = os.path.join(state, "agg")
    cur_path = os.path.join(state, "current")

    def agg_now():
        return {
            (r["domain"], r["n_live"])
            for r in spark.read.parquet(agg_path)
            .groupBy("domain")
            .agg(F.sum("n_live").alias("n_live"))
            .collect()
        }

    def recompute():
        return {
            (r["domain"], r["n_live"])
            for r in spark.read.parquet(cur_path)
            .select(F.split(F.col("after.email"), "@")[1].alias("domain"))
            .groupBy("domain")
            .agg(F.count("*").alias("n_live"))
            .collect()
        }

    assert agg_now() == recompute() == {(d, 500) for d in doms}

    dirs = [d for d in os.listdir(agg_path) if d.startswith("bucket=")]
    before_mtime = {d: os.path.getmtime(os.path.join(agg_path, d)) for d in dirs}
    time.sleep(0.05)

    # Incremental: move key 8 from a.com to d.com, delete key 13 (b.com).
    b1 = batch(
        [(None, {"id": 8, "email": "u8@d.com"}, "u", {"lsn": 10_008})]
        + [({"id": 13}, None, "d", {"lsn": 10_013})]
    )
    apply(b1, 1)
    assert agg_now() == recompute() == {
        ("a.com", 499), ("b.com", 499), ("c.com", 500), ("d.com", 501)
    }
    changed = {
        d for d in dirs if os.path.getmtime(os.path.join(agg_path, d)) != before_mtime[d]
    }
    assert len(changed) <= 2, f"untouched agg buckets rewritten: {changed}"

    # At-least-once replay of batch 1: marker short-circuits, agg unchanged.
    apply(b1, 1)
    assert agg_now() == {("a.com", 499), ("b.com", 499), ("c.com", 500), ("d.com", 501)}


def test_t14_scd2_maintenance_converges_under_max_disorder(spark):
    """The incrementally maintained SCD2 table must equal the batch X25
    build even at maximum delivery disorder: one replay file per
    micro-batch, with the fixture's round-robin files scattering each
    key's LSNs across batches (deletes routinely arriving before the opens
    they close — the orphan-tombstone path). Also pins that no tombstone
    leaks into the read surface with a matching open present."""
    from ez_cdc_spark.queries import load_all

    reg = load_all()
    sf = "/root/testdata/sf0.001"
    batch = reg["x25_scd2_history"].fn(spark, sf).collect()

    from ez_cdc_spark.streaming.cdc import materialize_scd2

    # materialize_scd2 returns the read_scd2 view — tombstone-free already
    hist = materialize_scd2(spark, sf, tag="t14test", max_files_per_trigger=1)
    surface = hist.select(
        "id",
        "version_no",
        "first_name",
        "last_name",
        "email",
        "valid_from_lsn",
        "valid_to_lsn",
        "is_current",
    ).collect()
    assert sorted(map(tuple, surface)) == sorted(map(tuple, batch))
    # remaining tombstones must be EXACTLY the genuinely open-less deletes
    # of the full log (keys whose change stream begins with deletes) — no
    # encoded delete may leak a tombstone, no orphan delete may be lost
    from ez_cdc_spark.queries.cdc_analytics import _flat_envelopes
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy("lsn")
    expected = {
        (r["id"], r["lsn"])
        for r in _flat_envelopes(spark, sf)
        .withColumn("prev_op", F.lag("op").over(w))
        .filter(
            (F.col("op") == "d")
            & (F.col("prev_op").isNull() | (F.col("prev_op") == "d"))
        )
        .collect()
    }
    # tombstones live only in the RAW state dir, below the read_scd2 view
    import os

    from ez_cdc_spark.streaming.replay import _dir_for

    raw = spark.read.parquet(
        os.path.join(_dir_for(sf, f"state-t14test-{os.getpid()}"), "current")
    )
    got = {
        (r["id"], r["valid_from_lsn"])
        for r in raw.filter(
            F.col("valid_from_lsn") == F.col("valid_to_lsn")
        ).collect()
    }
    assert got == expected
    # and the read surface itself must contain zero tombstones
    assert (
        hist.filter(F.col("valid_from_lsn") == F.col("valid_to_lsn")).count() == 0
    )


def _scd2_reference(events):
    """Independent pure-Python SCD2: events = [(id, lsn, op, fname)] with
    unique (id, lsn) after dedup; returns the surfaced version rows as
    (id, version_no, first_name, valid_from, valid_to, is_current)."""
    from collections import defaultdict

    by_key = defaultdict(dict)
    for k, lsn, op, fn in events:
        by_key[k][lsn] = (op, fn)  # later duplicates overwrite identically
    out = []
    for k, tl in by_key.items():
        seq = sorted(tl.items())
        ver = 0
        for i, (lsn, (op, fn)) in enumerate(seq):
            if op == "d":
                continue
            ver += 1
            nxt = seq[i + 1][0] if i + 1 < len(seq) else None
            out.append((k, ver, fn, lsn, nxt, 1 if nxt is None else 0))
    return sorted(out)


def _mk_env_batch(spark, rows):
    """Envelope-shaped batch DF from (id, lsn, op, fname) tuples."""
    from ez_cdc_spark.streaming.cdc import ENVELOPE_JSON_SCHEMA

    data = []
    for k, lsn, op, fn in rows:
        img = {"id": k, "first_name": fn, "last_name": "l", "email": "e"}
        data.append(
            {
                "before": None if op == "c" else img,
                "after": None if op == "d" else img,
                "source": {"lsn": lsn, "txId": lsn, "ts_ms": 0},
                "op": op,
                "ts_ms": 0,
                "kafka_timestamp": 0,
            }
        )
    return spark.createDataFrame(data, ENVELOPE_JSON_SCHEMA)


@pytest.mark.parametrize(
    "splits",
    [
        # one batch (pure rebuild), fully reversed, singleton batches,
        # adversarial pairing (deletes first)
        [[0, 1, 2, 3, 4, 5, 6, 7, 8, 9]],
        [[9, 8], [7, 6], [5, 4], [3, 2], [1, 0]],
        [[i] for i in range(10)],
        [[4, 9], [0, 5], [2, 7], [1, 6], [3, 8]],
    ],
)
def test_scd2_merge_matches_reference_on_adversarial_sequences(spark, tmp_path, splits):
    """scd2_batch must converge to the independent reference for event
    logs that hit every merge edge case — delete-before-open (orphan
    tombstones), delete-only keys, create-after-delete revival, duplicate
    LSN redelivery across batches — under every delivery order."""
    import shutil

    from ez_cdc_spark.streaming.cdc import scd2_batch

    # 10 events: key 1 = c,u,d,c (revival); key 2 = d,u (delete-first);
    # key 3 = d only; key 4 = c,u with a cross-batch duplicate of lsn 41
    events = [
        (1, 10, "c", "a"),
        (1, 20, "u", "b"),
        (1, 30, "d", None),
        (1, 40, "c", "c"),
        (2, 15, "d", None),
        (2, 25, "u", "x"),
        (3, 11, "d", None),
        (4, 41, "c", "p"),
        (4, 51, "u", "q"),
        (4, 41, "c", "p"),  # duplicate redelivery of an earlier LSN
    ]
    state = str(tmp_path / "scd2state")
    import os

    os.makedirs(state, exist_ok=True)
    merge = scd2_batch(state, n_buckets=4)
    for bid, idxs in enumerate(splits):
        merge(_mk_env_batch(spark, [events[i] for i in idxs]), bid)

    from ez_cdc_spark.streaming.cdc import read_scd2

    got = sorted(
        (r["id"], r["version_no"], r["first_name"], r["valid_from_lsn"],
         r["valid_to_lsn"], r["is_current"])
        for r in read_scd2(spark, state).collect()
    )
    assert got == _scd2_reference(events)
    shutil.rmtree(state, ignore_errors=True)


def test_jdbc_cdc_sink_replay_idempotent(spark, tmp_path):
    """T15's crash-replay contract: re-applying a batch id (crash between
    landing and checkpoint commit) must leave the landed log identical —
    the delete-own-batch_id-then-append path, not duplicate rows."""
    from ez_cdc_spark.streaming.cdc import jdbc_cdc_sink_batch

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    apply = jdbc_cdc_sink_batch(url, driver, "changes")
    b0 = _mk_env_batch(spark, [(1, 10, "c", "a"), (1, 20, "u", "b"), (2, 15, "c", "x")])
    b1 = _mk_env_batch(spark, [(2, 25, "d", None), (3, 30, "c", "z")])
    apply(b0, 0)
    apply(b1, 1)
    apply(b1, 1)  # replayed batch: delete-then-append, no duplication
    landed = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "changes")
        .option("driver", driver)
        .load()
    )
    rows = sorted((r["id"], r["lsn"], r["op"], r["batch_id"]) for r in landed.collect())
    assert rows == [
        (1, 10, "c", 0),
        (1, 20, "u", 0),
        (2, 15, "c", 0),
        (2, 25, "d", 1),
        (3, 30, "c", 1),
    ]


def test_jdbc_cdc_sink_cross_batch_lsn_dedup(spark, tmp_path):
    """T15's at-least-once contract across batch boundaries (r6 ADVICE):
    a redelivered lsn landing in a LATER micro-batch than its first
    delivery must not re-enter the landed log — the log stays lsn-unique,
    so an auditing consumer counts each change exactly once."""
    from ez_cdc_spark.streaming.cdc import jdbc_cdc_sink_batch

    url = f"jdbc:derby:{tmp_path}/db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    apply = jdbc_cdc_sink_batch(url, driver, "changes")
    apply(_mk_env_batch(spark, [(1, 10, "c", "a"), (1, 20, "u", "b")]), 0)
    # lsn 20 redelivered in batch 1 (different file slice), lsn 30 fresh
    apply(_mk_env_batch(spark, [(1, 20, "u", "b"), (3, 30, "c", "z")]), 1)
    landed = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "changes")
        .option("driver", driver)
        .load()
    )
    rows = sorted((r["id"], r["lsn"], r["op"], r["batch_id"]) for r in landed.collect())
    assert rows == [(1, 10, "c", 0), (1, 20, "u", 0), (3, 30, "c", 1)]
    # replaying batch 1 after the anti-join must still be idempotent
    apply(_mk_env_batch(spark, [(1, 20, "u", "b"), (3, 30, "c", "z")]), 1)
    again = sorted(
        (r["id"], r["lsn"], r["op"], r["batch_id"])
        for r in spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", "changes")
        .option("driver", driver)
        .load()
        .collect()
    )
    assert again == rows


def test_events_split_every_stage_carries_data(spark, sf_smoke):
    """t16's cross-batch-state proof rests on the split replay actually
    delivering fresh rows in EVERY micro-batch: each stage file must be
    non-empty and the stages must partition the event set exactly."""
    from ez_cdc_spark.streaming.replay import events_parquet_split
    from ez_cdc_spark.sources.tables import load_table

    path = events_parquet_split(spark, sf_smoke)
    import glob
    import os

    stages = sorted(glob.glob(os.path.join(path, "stage-*.parquet")))
    assert len(stages) == 3
    counts = [spark.read.parquet(p).count() for p in stages]
    assert all(c > 0 for c in counts), counts
    assert sum(counts) == load_table(spark, sf_smoke, "events").count()


def test_lsn_split_tolerates_empty_last_stage(spark, sf_smoke):
    """r8 ADVICE regression: ceil-division staging can leave the LAST stage
    empty (n=9, n_stages=4 -> per=3 -> sizes 3,3,3,0) and text writers emit
    no part file for an empty partition (SPARK-23271) — the builder used to
    StopIteration data-dependently. (Spark 4.1.2's JSON writer turns out to
    emit a ZERO-LENGTH part file for an empty coalesced partition, so on
    this version the empty stage lands as an empty file rather than a
    missing one — the guard covers both.) Pick the smallest n_stages that
    provably produces an empty tail for THIS fixture's envelope count, then
    assert the build succeeds and still partitions the envelope set
    exactly in lsn order."""
    import glob
    import os

    from ez_cdc_spark.streaming.cdc import derive_envelopes, envelopes_jsonl_lsn_split
    from ez_cdc_spark.sources.tables import load_table

    n = derive_envelopes(load_table(spark, sf_smoke, "events")).count()
    k = next(
        k
        for k in range(3, n + 2)
        if ((n + k - 1) // k) * (k - 1) >= n  # per*(k-1) >= n: empty tail
    )
    path = envelopes_jsonl_lsn_split(spark, sf_smoke, n_stages=k)
    stages = sorted(glob.glob(os.path.join(path, "stage-*.json")))
    assert 0 < len(stages) <= k
    per = (n + k - 1) // k
    n_full = (n + per - 1) // per  # stages that actually carry rows
    assert n_full < k, "fixture/k choice must exercise the empty-tail path"
    total = sum(spark.read.json(p).count() for p in stages)
    assert total == n
    assert os.path.exists(os.path.join(path, "_SUCCESS"))


def test_t9_upsert_recovers_from_mid_stream_kill(spark, tmp_path, sf_dir):
    """Crash-recovery across a REAL restart: the envelope replay is split
    into 8 micro-batches (maxFilesPerTrigger=1), the query is stopped after
    at least one batch committed, then a NEW query starts on the SAME
    checkpoint + state dir and drains the rest. Source-offset recovery plus
    the per-batch marker idempotence (a stopped batch may have half-landed)
    must make the final state row-identical to an uninterrupted run."""
    import time

    from ez_cdc_spark.streaming.cdc import envelopes_jsonl_lsn_split, materialize

    # lsn-ordered stages: T9's tombstone-forgetting merge requires per-key
    # ORDER ACROSS batches (the Kafka-partition contract) — round-robin
    # files one-per-trigger would deliberately violate it (see fixture doc)
    env_path = envelopes_jsonl_lsn_split(spark, sf_dir)
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(state_dir, exist_ok=True)

    def start():
        env = (
            spark.readStream.schema(ENVELOPE_JSON_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(env_path)
        )
        return (
            env.writeStream.foreachBatch(upsert_batch(state_dir))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    deadline = time.time() + 120
    while not q.recentProgress and time.time() < deadline:
        time.sleep(0.2)
    assert q.recentProgress, "first micro-batch never committed"
    stop_and_await(q)

    q2 = start()
    q2.awaitTermination()
    n_batches = len(q2.recentProgress)
    assert n_batches >= 1, "restart must drain the remaining files"

    got = sorted(
        (r["id"], r["lsn"], r["after"]["first_name"], r["after"]["email"])
        for r in spark.read.parquet(os.path.join(state_dir, "current")).collect()
    )
    want = sorted(
        (r["id"], r["lsn"], r["after"]["first_name"], r["after"]["email"])
        for r in materialize(spark, sf_dir, tag="t9recovery").collect()
    )
    assert got == want


def test_t15_jdbc_landing_recovers_from_mid_stream_kill(spark, tmp_path, sf_dir):
    """T15's crash story under a REAL kill+restart: the landing is an
    append-only log with batch_id self-delete + cross-batch lsn anti-join,
    so it is order-insensitive (unlike T9's merge) AND restart-safe — a
    batch replayed after the kill deletes its own half-landed rows before
    re-appending. Final landed log must contain each change lsn exactly
    once and reduce to the same current state as the one-shot run."""
    import time

    from ez_cdc_spark.streaming.cdc import (
        ENVELOPE_JSON_SCHEMA,
        envelopes_jsonl,
        jdbc_cdc_sink_batch,
    )

    jvm = spark.sparkContext._jvm
    jvm.java.lang.Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    base = str(tmp_path / "derby")
    url = f"jdbc:derby:{base}/db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    table = "cdc_log"
    env_path = envelopes_jsonl(spark, sf_dir)
    ckpt = str(tmp_path / "ckpt")

    def start():
        env = (
            spark.readStream.schema(ENVELOPE_JSON_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(env_path)
        )
        return (
            env.writeStream.foreachBatch(jdbc_cdc_sink_batch(url, driver, table))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    deadline = time.time() + 120
    while not q.recentProgress and time.time() < deadline:
        time.sleep(0.2)
    assert q.recentProgress, "first micro-batch never committed"
    stop_and_await(q)
    q2 = start()
    q2.awaitTermination()

    landed = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", driver)
        .load()
    )
    rows = landed.collect()
    lsns = [r["lsn"] for r in rows]
    assert len(lsns) == len(set(lsns)), "each change must land exactly once"

    # reduce the landed log to current state; compare to the T9 one-shot
    from ez_cdc_spark.streaming.cdc import materialize

    got = sorted(
        (r["id"], r["lsn"], r["first_name"], r["email"])
        for r in (
            landed.groupBy("id")
            .agg(
                F.expr(
                    "max_by(struct(op, lsn, first_name, email), lsn)"
                ).alias("w")
            )
            .filter(F.col("w.op") != "d")
            .select(
                "id",
                F.col("w.lsn").alias("lsn"),
                F.col("w.first_name").alias("first_name"),
                F.col("w.email").alias("email"),
            )
            .collect()
        )
    )
    want = sorted(
        (r["id"], r["lsn"], r["after"]["first_name"], r["after"]["email"])
        for r in materialize(spark, sf_dir, tag="t15recovery").collect()
    )
    assert got == want
    # release the embedded database before tmp_path cleanup
    try:
        jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{base}/db;shutdown=true")
    except Exception:
        pass


def test_t13_agg_maintenance_recovers_from_mid_stream_kill(spark, tmp_path, sf_dir):
    """T13 under a real kill+restart on the lsn-ordered replay: merge-marker
    and agg-marker are separate, so a kill can land between them (batch
    merged but aggregate not yet recomputed); on replay the merge marker
    short-circuits while the agg recompute (recompute-from-state, not
    delta-apply) reruns idempotently. Final aggregate must equal counting
    the final merged state directly."""
    import time

    from ez_cdc_spark.streaming.cdc import (
        ENVELOPE_JSON_SCHEMA,
        envelopes_jsonl_lsn_split,
        upsert_with_agg_batch,
    )

    env_path = envelopes_jsonl_lsn_split(spark, sf_dir)
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir, exist_ok=True)
    ckpt = str(tmp_path / "ckpt")

    def start():
        env = (
            spark.readStream.schema(ENVELOPE_JSON_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(env_path)
        )
        return (
            env.writeStream.foreachBatch(upsert_with_agg_batch(state_dir))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    deadline = time.time() + 120
    while not q.recentProgress and time.time() < deadline:
        time.sleep(0.2)
    assert q.recentProgress
    stop_and_await(q)
    q2 = start()
    q2.awaitTermination()

    agg = spark.read.parquet(os.path.join(state_dir, "agg"))
    got = sorted(
        (r["bucket"], r["domain"], r["n_live"]) for r in agg.collect()
    )
    state = spark.read.parquet(os.path.join(state_dir, "current"))
    want = sorted(
        (r["bucket"], r["domain"], r["n_live"])
        for r in (
            state.select(
                "bucket", F.split(F.col("after.email"), "@")[1].alias("domain")
            )
            .groupBy("bucket", "domain")
            .agg(F.count("*").cast("bigint").alias("n_live"))
            .collect()
        )
    )
    assert got == want and len(got) > 0


def test_t14_scd2_recovers_from_mid_stream_kill(spark, tmp_path, sf_dir):
    """T14 under a real kill+restart: SCD2 history is information-preserving
    (tombstones persist as zero-width versions), so unlike T9 it needs NO
    cross-batch ordering — run the kill on the deliberately-disordered
    round-robin replay and the restarted run must still converge to the
    uninterrupted batch build (X25), version for version."""
    import time

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.streaming.cdc import (
        ENVELOPE_JSON_SCHEMA,
        envelopes_jsonl,
        read_scd2,
        scd2_batch,
    )

    env_path = envelopes_jsonl(spark, sf_dir)
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir, exist_ok=True)
    ckpt = str(tmp_path / "ckpt")

    def start():
        env = (
            spark.readStream.schema(ENVELOPE_JSON_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(env_path)
        )
        return (
            env.writeStream.foreachBatch(scd2_batch(state_dir))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    deadline = time.time() + 120
    while not q.recentProgress and time.time() < deadline:
        time.sleep(0.2)
    assert q.recentProgress
    stop_and_await(q)
    q2 = start()
    q2.awaitTermination()

    cols = ("id", "version_no", "valid_from_lsn", "valid_to_lsn", "is_current")
    got = sorted(tuple(r[c] for c in cols) for r in read_scd2(spark, state_dir).collect())
    want = sorted(
        tuple(r[c] for c in cols)
        for r in load_all()["x25_scd2_history"].fn(spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0


def test_t19_ewma_recovers_from_mid_stream_kill(spark, tmp_path, sf_dir):
    """ORDER-SENSITIVE streaming state under a real kill+restart — the
    recurrence class: unlike t9/t15 (idempotent merges) and t16/t20
    (order-free counters/registers), t19's per-user (s, n) EWMA state is
    wrong if a single step replays out of order or double-applies. The
    state store's per-batch versioning must roll an interrupted batch back
    so the restart re-folds it from the last committed state, continuing
    the recurrence exactly: 8 time-ordered stages, kill after >= 1 commit,
    restart on the same checkpoint, then the union of emissions from BOTH
    runs (a replayed batch re-emits identical rows — collapsed by
    max_by(ewma, n)) must reproduce w11's one-shot batch fold exactly."""
    import time

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.streaming.replay import (
        EVENTS_JSON_SCHEMA,
        events_parquet_time_split,
    )

    path = events_parquet_time_split(spark, sf_dir, n_stages=8)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "emissions")

    def fold(key, pdfs, state: GroupState):
        # same integer step as t19/w11: seed with the first element, then
        # s = (s + c) >> 1 in (ts, event_id) order within each batch
        if state.exists:
            s, n = state.get
        else:
            s, n = 0, 0
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for c in pdf["cents"]:
                c = int(c)
                s = c if n == 0 else (s + c) >> 1
                n += 1
        state.update((s, n))
        yield pd.DataFrame({"user_id": [key[0]], "n": [n], "ewma": [s]})

    def start():
        rows = (
            spark.readStream.schema(EVENTS_JSON_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
            .select(
                "user_id",
                "ts",
                "event_id",
                (F.col("value").cast("decimal(12,2)") * 100)
                .cast("bigint")
                .alias("cents"),
            )
        )
        folded = rows.groupBy("user_id").applyInPandasWithState(
            fold,
            outputStructType="user_id BIGINT, n BIGINT, ewma BIGINT",
            stateStructType="s BIGINT, n BIGINT",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        return (
            folded.writeStream.outputMode("update")
            .foreachBatch(lambda df, _bid: df.write.mode("append").parquet(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    deadline = time.time() + 120
    while not q.recentProgress and time.time() < deadline:
        time.sleep(0.2)
    assert q.recentProgress, "first micro-batch never committed"
    stop_and_await(q)

    q2 = start()
    q2.awaitTermination()
    assert len(q2.recentProgress) >= 1, "restart must drain the remaining files"

    emitted = spark.read.parquet(out)
    got = sorted(
        (r["user_id"], r["n_events"], r["ewma_cents"])
        for r in emitted.groupBy("user_id")
        .agg(
            F.max("n").cast("bigint").alias("n_events"),
            F.max_by("ewma", "n").cast("bigint").alias("ewma_cents"),
        )
        .collect()
    )
    want = sorted(
        (r["user_id"], r["n_events"], r["ewma_cents"])
        for r in load_all()["w11_integer_ewma"].fn(spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0


def test_t20_hll_recovers_from_mid_stream_kill(spark, tmp_path, sf_dir):
    """ORDER-FREE streaming state under a real kill+restart — the register
    class: t20's per-(grp, bucket) max(rho) is a monotone merge, so however
    the kill slices the file stream into committed/replayed batches, the
    max over ALL update-mode emissions from both runs equals the one-shot
    batch registers. Complements t19's order-sensitive recurrence test:
    together they pin both streaming-state recovery regimes the engine
    ships (r8 verdict task #6)."""
    import time

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.streaming.replay import EVENTS_JSON_SCHEMA, events_parquet_split

    path = events_parquet_split(spark, sf_dir)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "emissions")

    def regs_of(df):
        h32 = F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        b = df.select(F.col("event_type").alias("grp"), h32.alias("h32")).select(
            "grp",
            F.expr("h32 div 33554432").alias("bucket"),
            (F.col("h32") % F.lit(33554432)).alias("w"),
        )
        return b.groupBy("grp", "bucket").agg(
            F.max(
                F.when(F.col("w") == 0, F.lit(26)).otherwise(
                    F.lit(26) - F.length(F.bin(F.col("w")))
                )
            ).alias("rho")
        )

    def start():
        ev = (
            spark.readStream.schema(EVENTS_JSON_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        return (
            regs_of(ev)
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, _bid: df.write.mode("append").parquet(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    deadline = time.time() + 120
    while not q.recentProgress and time.time() < deadline:
        time.sleep(0.2)
    assert q.recentProgress, "first micro-batch never committed"
    stop_and_await(q)

    q2 = start()
    q2.awaitTermination()
    assert len(q2.recentProgress) >= 1, "restart must drain the remaining files"

    from ez_cdc_spark.sources.tables import load_table

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .groupBy("grp", "bucket")
        .agg(F.max("rho").alias("rho"))
        .collect()
    )
    want = sorted(
        tuple(r) for r in regs_of(load_table(spark, sf_dir, "events")).collect()
    )
    assert got == want and len(got) > 0
    # and the finished sketch output must equal the registered t20 query
    final = load_all()["t20_streaming_hll"].fn(spark, sf_dir)
    assert final.count() == final.select("grp").distinct().count()


def test_t18_windowed_topk_recovers_from_mid_stream_kill(spark, tmp_path, sf_dir):
    """Windowed-aggregation state under a real kill+restart: t18's
    30-minute window counts live in the streaming aggregation state store.
    Counts are monotone across update-mode emissions, so after a kill on
    >= 1 committed batch and a same-checkpoint restart, the per-(window,
    event_type) max over both runs' emissions must equal the one-shot
    batch window counts — an interrupted batch either never emitted (rolled
    back, replayed) or re-emits rows that the max collapses (r8 verdict
    task #6)."""
    import time

    from ez_cdc_spark.sources.tables import load_table
    from ez_cdc_spark.streaming.replay import EVENTS_JSON_SCHEMA, events_parquet_split

    path = events_parquet_split(spark, sf_dir)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "emissions")

    def counts_of(df):
        return (
            df.groupBy(F.window("ts", "30 minutes"), "event_type")
            .agg(F.count("*").cast("bigint").alias("n"))
            .select(
                F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("wstart"),
                "event_type",
                "n",
            )
        )

    def start():
        ev = (
            spark.readStream.schema(EVENTS_JSON_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        return (
            counts_of(ev)
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, _bid: df.write.mode("append").parquet(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    deadline = time.time() + 120
    while not q.recentProgress and time.time() < deadline:
        time.sleep(0.2)
    assert q.recentProgress, "first micro-batch never committed"
    stop_and_await(q)

    q2 = start()
    q2.awaitTermination()
    assert len(q2.recentProgress) >= 1, "restart must drain the remaining files"

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .groupBy("wstart", "event_type")
        .agg(F.max("n").alias("n"))
        .collect()
    )
    want = sorted(
        tuple(r) for r in counts_of(load_table(spark, sf_dir, "events")).collect()
    )
    assert got == want and len(got) > 0


def test_t22_cusum_recovers_from_mid_stream_kill(spark, tmp_path, sf_dir):
    """t22 joins t19 in the ORDER-SENSITIVE recovery class: the clamped
    CUSUM recurrence double-applies or reorders visibly if an interrupted
    batch is not rolled back to the last committed state. Kill after >= 1
    commit, restart on the same checkpoint, then the union of both runs'
    emissions (collapsed by max n / monotone peak) must equal w15's
    closed-form batch statistics exactly."""
    import time

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.streaming.replay import (
        EVENTS_JSON_SCHEMA,
        events_parquet_time_split,
    )

    path = events_parquet_time_split(spark, sf_dir, n_stages=8)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "emissions")

    def fold(key, pdfs, state: GroupState):
        if state.exists:
            started, cfirst, s, peak, n = state.get
        else:
            started, cfirst, s, peak, n = False, 0, 0, 0, 0
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            for c in pdf["cents"]:
                c = int(c)
                if not started:
                    started, cfirst = True, c
                s = max(0, s + (c - cfirst))
                peak = max(peak, s)
                n += 1
        state.update((started, cfirst, s, peak, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n": [n], "cusum": [s], "peak": [peak]}
        )

    def start():
        rows = (
            spark.readStream.schema(EVENTS_JSON_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
            .select(
                "user_id",
                "ts",
                "event_id",
                (F.col("value").cast("decimal(12,2)") * 100)
                .cast("bigint")
                .alias("cents"),
            )
        )
        folded = rows.groupBy("user_id").applyInPandasWithState(
            fold,
            outputStructType="user_id BIGINT, n BIGINT, cusum BIGINT, peak BIGINT",
            stateStructType=(
                "started BOOLEAN, cfirst BIGINT, s BIGINT, peak BIGINT, n BIGINT"
            ),
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        return (
            folded.writeStream.outputMode("update")
            .foreachBatch(lambda df, _bid: df.write.mode("append").parquet(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    deadline = time.time() + 120
    while not q.recentProgress and time.time() < deadline:
        time.sleep(0.2)
    assert q.recentProgress, "first micro-batch never committed"
    stop_and_await(q)
    q2 = start()
    q2.awaitTermination()
    assert len(q2.recentProgress) >= 1

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .groupBy("user_id")
        .agg(
            F.max("n").cast("bigint").alias("n_events"),
            F.max_by("cusum", "n").cast("bigint").alias("final_cusum_cents"),
            F.max("peak").cast("bigint").alias("peak_cusum_cents"),
        )
        .collect()
    )
    # w15's closed form gives the per-row statistic; reduce it to the same
    # per-user finals in the fold's (ts, event_id) order (ts_s string sorts
    # chronologically at second precision; event_id breaks the ties)
    w15 = load_all()["w15_cusum_drift"].fn(spark, sf_dir).collect()
    per_user: dict = {}
    for r in sorted(w15, key=lambda r: (r["user_id"], r["ts_s"], r["event_id"])):
        u = per_user.setdefault(r["user_id"], [0, 0, 0])
        u[0] += 1
        u[1] = r["cusum_cents"]
        u[2] = max(u[2], r["cusum_cents"])
    want = sorted((uid, n, fin, pk) for uid, (n, fin, pk) in per_user.items())
    assert got == want and len(got) > 0


def test_t24_cms_recovers_from_mid_stream_kill(spark, tmp_path, sf_dir):
    """The SUM-merge streaming-state regime under a real kill+restart:
    t24's per-(row, bucket) count is monotone across update emissions, so
    the max over ALL emissions from the killed run plus the restarted run
    equals the one-shot batch sketch — exactly-once cell counts without any
    emission bookkeeping (t20's argument applied to SUM state)."""
    import time

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.streaming.replay import EVENTS_JSON_SCHEMA, events_parquet_split

    path = events_parquet_split(spark, sf_dir)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "emissions")

    def cells_of(df):
        def bucket(j):
            return (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":", F.lit(str(j)), F.col("user_id").cast("string")
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % 256
            )

        return df.select(
            F.posexplode(F.array(*[bucket(j) for j in range(4)])).alias(
                "row_id", "bucket"
            )
        ).groupBy("row_id", "bucket").agg(F.count("*").cast("bigint").alias("cnt"))

    def start():
        ev = (
            spark.readStream.schema(EVENTS_JSON_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        return (
            cells_of(ev)
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, _bid: df.write.mode("append").parquet(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    deadline = time.time() + 120
    while not q.recentProgress and time.time() < deadline:
        time.sleep(0.2)
    assert q.recentProgress, "first micro-batch never committed"
    stop_and_await(q)

    q2 = start()
    q2.awaitTermination()
    assert len(q2.recentProgress) >= 1, "restart must drain the remaining files"

    from ez_cdc_spark.sources.tables import load_table

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .groupBy("row_id", "bucket")
        .agg(F.max("cnt").alias("cnt"))
        .collect()
    )
    want = sorted(
        tuple(r) for r in cells_of(load_table(spark, sf_dir, "events")).collect()
    )
    assert got == want and len(got) > 0
    # the registered query's finished output stays a valid CMS readout
    rows = load_all()["t24_streaming_cms"].fn(spark, sf_dir).collect()
    assert len(rows) == 10 and all(r["overestimate"] >= 0 for r in rows)


def test_t25_bitmap_recovers_from_mid_stream_kill(spark, tmp_path, sf_dir):
    """IDEMPOTENT streaming state under kill+restart: t25's bit_or words
    tolerate any replay/duplication of emissions — OR of everything both
    runs ever emitted equals the one-shot batch words, the at-least-once-
    safe regime (vs t24's SUM needing the monotone-max argument)."""
    import time

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.streaming.replay import EVENTS_JSON_SCHEMA, events_parquet_split

    path = events_parquet_split(spark, sf_dir)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "emissions")

    def words_of(df):
        return (
            df.select(
                F.col("event_type").alias("grp"),
                F.expr("user_id div 32").alias("word_idx"),
                F.expr(
                    "shiftleft(cast(1 as bigint), cast(user_id % 32 as int))"
                ).alias("bit"),
            )
            .groupBy("grp", "word_idx")
            .agg(F.bit_or("bit").alias("word"))
        )

    def start():
        ev = (
            spark.readStream.schema(EVENTS_JSON_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
        )
        return (
            words_of(ev)
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, _bid: df.write.mode("append").parquet(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    deadline = time.time() + 120
    while not q.recentProgress and time.time() < deadline:
        time.sleep(0.2)
    assert q.recentProgress, "first micro-batch never committed"
    stop_and_await(q)

    q2 = start()
    q2.awaitTermination()
    assert len(q2.recentProgress) >= 1, "restart must drain the remaining files"

    from ez_cdc_spark.sources.tables import load_table

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .groupBy("grp", "word_idx")
        .agg(F.bit_or("word").alias("word"))
        .collect()
    )
    want = sorted(
        tuple(r) for r in words_of(load_table(spark, sf_dir, "events")).collect()
    )
    assert got == want and len(got) > 0
    rows = load_all()["t25_streaming_bitmap"].fn(spark, sf_dir).collect()
    assert len(rows) == 5 and all(r["n_distinct"] > 0 for r in rows)


def test_t21_minhash_recovers_from_mid_stream_kill(spark, tmp_path, sf_dir):
    """The MIN-merge streaming regime under kill+restart — the monotone-
    DECREASING dual of t20's max(rho): per-(lang, slot) min(sig) only
    falls, so the min over all update emissions from the killed run plus
    the restart equals the one-shot batch registers. Closes the kill-test
    matrix for every r9 streaming state class (min / max / SUM /
    idempotent-OR / windowed / order-sensitive)."""
    import time

    from ez_cdc_spark.operators.dedup import minhash_signature, shingle_hashes
    from ez_cdc_spark.streaming.replay import DOCS_REPLAY_SCHEMA, documents_parquet

    path = documents_parquet(spark, sf_dir)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "emissions")

    def regs_of(df):
        hs = df.select(
            "lang",
            shingle_hashes(
                F.split(F.col("text"), r"\s+"), 3, portable=True
            ).alias("hs"),
        )
        sig = minhash_signature(F.col("hs"), num_hashes=16)
        rows = hs.select("lang", F.posexplode(sig).alias("slot", "sig")).filter(
            F.col("sig").isNotNull()
        )
        return rows.groupBy("lang", "slot").agg(F.min("sig").alias("sig"))

    def start():
        docs = (
            spark.readStream.schema(DOCS_REPLAY_SCHEMA)
            .option("maxFilesPerTrigger", 2)
            .parquet(path)
        )
        return (
            regs_of(docs)
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, _bid: df.write.mode("append").parquet(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    deadline = time.time() + 120
    while not q.recentProgress and time.time() < deadline:
        time.sleep(0.2)
    assert q.recentProgress, "first micro-batch never committed"
    stop_and_await(q)

    q2 = start()
    q2.awaitTermination()
    assert len(q2.recentProgress) >= 1, "restart must drain the remaining files"

    from ez_cdc_spark.sources.tables import load_table

    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .groupBy("lang", "slot")
        .agg(F.min("sig").alias("sig"))
        .collect()
    )
    docs_b = load_table(spark, sf_dir, "documents").select("lang", "text")
    want = sorted(tuple(r) for r in regs_of(docs_b).collect())
    assert got == want and len(got) > 0


def test_t30_lakehouse_merge_kill_restart_and_snapshot_history(spark, tmp_path, sf_dir):
    """t30 under a real kill+restart: the per-batch merge_cow commits must
    survive a mid-stream kill — the txn watermark in the committed manifest
    skips replayed batches (Delta txn-version idempotence), the restart
    drains the remaining lsn-split stages, and the final committed state
    equals the one-shot t9 oracle state row-for-row. Every intermediate
    generation is additionally a FREE consistent snapshot: time-traveling
    to the generation committed by batch k reproduces the pure-Python
    last-event-wins fold of envelope stages 0..k exactly."""
    import json as _json
    import os
    import time

    import pyspark.sql.functions as F  # noqa: N812

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.sources.manifest import read_committed, read_manifest
    from ez_cdc_spark.streaming.cdc import (
        ENVELOPE_JSON_SCHEMA,
        envelopes_jsonl_lsn_split,
        lakehouse_merge_batch,
    )
    from ez_cdc_spark.sources.manifest import publish
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    path = envelopes_jsonl_lsn_split(spark, sf_dir)
    td = str(tmp_path / "laketable")
    ckpt = str(tmp_path / "ckpt")
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("lsn", LongType()),
            StructField("first_name", StringType()),
            StructField("last_name", StringType()),
            StructField("email", StringType()),
        ]
    )
    publish(spark.createDataFrame([], schema), td, generation=1, stats_columns=["id"])

    def start():
        env = (
            spark.readStream.schema(ENVELOPE_JSON_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(path)
        )
        return (
            env.writeStream.foreachBatch(lakehouse_merge_batch(td, tag="t30kill"))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    deadline = time.time() + 120
    while not q.recentProgress and time.time() < deadline:
        time.sleep(0.2)
    assert q.recentProgress, "first micro-batch never committed"
    stop_and_await(q)

    q2 = start()
    q2.awaitTermination()

    got = sorted(
        tuple(str(v) for v in r)
        for r in read_committed(spark, td)
        .select("id", "lsn", "first_name", "last_name", "email")
        .collect()
    )
    want = sorted(
        tuple(str(v) for v in r)
        for r in load_all()["t9_cdc_upsert"].fn(spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0

    # idempotence: replaying the last committed batch is a no-op skip
    man = read_manifest(td)
    last_bid = man["txn"]["batch_id"]
    stage_files = sorted(
        f for f in os.listdir(path) if f.startswith("stage-") and f.endswith(".json")
    )
    replay = spark.read.schema(ENVELOPE_JSON_SCHEMA).json(
        os.path.join(path, stage_files[-1])
    )
    lakehouse_merge_batch(td, tag="t30kill")(replay, last_bid)
    assert read_manifest(td)["generation"] == man["generation"], "replay must skip"

    # snapshot history: each committed generation's txn batch_id k
    # reproduces the python fold of stages 0..k (read via time travel)
    mdir = os.path.join(td, "_manifests")
    gens = sorted(
        int(f.split("-")[1].split(".")[0])
        for f in os.listdir(mdir)
        if f.startswith("gen-")
    )
    folds = []  # fold state after each stage
    state: dict = {}
    for f in stage_files:
        events = [
            _json.loads(line)
            for line in open(os.path.join(path, f))
            if line.strip()
        ]
        for ev in sorted(events, key=lambda e: e["source"]["lsn"]):
            # the JSON writer omits null struct fields ('d' has no after)
            key = (ev.get("after") or ev.get("before"))["id"]
            if ev["op"] == "d":
                state.pop(key, None)
            else:
                state[key] = (ev["source"]["lsn"], ev["after"]["first_name"])
        folds.append(dict(state))
    # Every committed generation must be the fold of SOME file-boundary
    # lsn-prefix, and the matched prefixes strictly increase across
    # generations. (Not "generation for batch k == fold of stages 0..k":
    # a kill landing inside the RESTART's offset planning can make Spark
    # legitimately lump the remaining files into one availableNow batch —
    # witnessed once under a 3-JVM load test — and a lumped batch is
    # still a correct, order-preserving commit. What the snapshot-history
    # contract actually promises is that every commit is a CONSISTENT
    # PREFIX snapshot, which this asserts exactly.)
    last_j = -1
    audited = 0
    for g in gens:
        man_g = read_manifest(td, as_of_generation=g)
        if man_g.get("txn") is None:
            continue  # the empty bootstrap generation
        snap = {
            r["id"]: (r["lsn"], r["first_name"])
            for r in read_committed(spark, td, as_of_generation=g).collect()
        }
        matches = [j for j, fold in enumerate(folds) if snap == fold]
        assert matches, f"generation {g} is not any file-boundary prefix fold"
        j = matches[0]
        assert j > last_j, f"generation {g} rewound the prefix ({j} <= {last_j})"
        last_j = j
        audited += 1
    assert audited >= 2 and last_j == len(folds) - 1


def test_t30_maintenance_policy_bounds_state_and_readers(spark, tmp_path, sf_dir):
    """r13 verdict #3 'done' conditions: the sink's steady-state policy
    (merge + threshold compact + gc, all inside the single-writer loop)
    replayed over 14 CDC batches keeps (a) the committed file count and
    live generation/manifest counts BOUNDED instead of growing with the
    stream's lifetime, carries the (tag, batch_id) txn watermark through
    every maintenance commit (a post-compaction replay still skips), and
    (b/c) a reader racing the merge+compact loop only ever observes one of
    the per-batch committed states — never a torn or half-compacted mix."""
    import json
    import os
    import threading

    from ez_cdc_spark.sources.manifest import (
        publish,
        read_committed,
        read_manifest,
    )
    from ez_cdc_spark.streaming.cdc import (
        ENVELOPE_JSON_SCHEMA,
        lakehouse_merge_batch,
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    n_batches = 14

    def mk_batches(root):
        """Write 14 JSONL envelope batches; return (paths, folds) where
        folds[b] is the pure-Python last-event-wins state after batch b."""
        os.makedirs(root, exist_ok=True)
        paths, folds, state = [], [], {}
        for b in range(n_batches):
            events = []
            for i in range(12):
                k = (7 * b + 3 * i) % 30
                lsn = b * 100 + i
                op = "d" if (b + i) % 5 == 4 else ("c" if i == 0 else "u")
                ev = {"op": op, "source": {"lsn": lsn}, "ts_ms": lsn}
                if op == "d":
                    ev["before"] = {"id": k}
                else:
                    ev["after"] = {
                        "id": k,
                        "first_name": f"fn{b}-{i}",
                        "last_name": str(k),
                        "email": f"e{k}",
                    }
                events.append(ev)
            for ev in sorted(events, key=lambda e: e["source"]["lsn"]):
                key = (ev.get("after") or ev.get("before"))["id"]
                if ev["op"] == "d":
                    state.pop(key, None)
                else:
                    state[key] = ev["after"]["first_name"]
            folds.append(dict(state))
            p = os.path.join(root, f"batch-{b:03d}.json")
            with open(p, "w") as fh:
                fh.write("\n".join(json.dumps(e) for e in events))
            paths.append(p)
        return paths, folds

    paths, folds = mk_batches(str(tmp_path / "stages"))
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("lsn", LongType()),
            StructField("first_name", StringType()),
            StructField("last_name", StringType()),
            StructField("email", StringType()),
        ]
    )

    def read_batch(p):
        return spark.read.schema(ENVELOPE_JSON_SCHEMA).json(p)

    def committed_state(td, as_of=None):
        return {
            r["id"]: r["first_name"]
            for r in read_committed(spark, td, as_of_generation=as_of).collect()
        }

    # ---- run A: tight policy + immediate gc -> bounded live state ----
    td = str(tmp_path / "laketable-a")
    publish(spark.createDataFrame([], schema), td, generation=1, stats_columns=["id"])
    # max_files=0 trips maintenance on EVERY merge commit — the tightest
    # regime, so the bound pins are deterministic regardless of how many
    # files a tiny batch's rewrite happens to stage
    sink = lakehouse_merge_batch(
        td, tag="t30maint", max_files=0, compact_target_files=1, gc_older_than_s=0.0
    )
    for b, p in enumerate(paths):
        sink(read_batch(p), b)
        man = read_manifest(td)
        assert man["n_files"] <= 2, (b, man["n_files"])
        assert man["txn"] == {"tag": "t30maint", "batch_id": b}, (
            "txn watermark must survive maintenance commits"
        )
        assert committed_state(td) == folds[b], f"state diverged at batch {b}"
    # live metadata bounded: not one generation per batch left behind
    data_dirs = [d for d in os.listdir(os.path.join(td, "data")) if d.startswith("gen-")]
    manifests = [m for m in os.listdir(os.path.join(td, "_manifests")) if m.startswith("gen-")]
    assert len(data_dirs) <= 4, data_dirs
    assert len(manifests) <= 4, manifests
    # post-compaction replay of the last batch is still a no-op skip
    gen_before = read_manifest(td)["generation"]
    sink(read_batch(paths[-1]), n_batches - 1)
    assert read_manifest(td)["generation"] == gen_before

    # ---- run B: retention window + a reader racing merge+compact ----
    td2 = str(tmp_path / "laketable-b")
    publish(spark.createDataFrame([], schema), td2, generation=1, stats_columns=["id"])
    sink2 = lakehouse_merge_batch(
        td2, tag="t30race", max_files=0, compact_target_files=1, gc_older_than_s=3600.0
    )
    valid = [frozenset()] + [frozenset(f.items()) for f in folds]
    errors: list = []
    seen: list = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                st = frozenset(committed_state(td2).items())
                seen.append(st)
                if st not in valid:
                    errors.append(("inconsistent state", sorted(st)))
                    return
            except Exception as exc:  # a torn read would surface here
                errors.append(("read failed", repr(exc)))
                return

    th = threading.Thread(target=reader, daemon=True)
    th.start()
    try:
        for b, p in enumerate(paths):
            sink2(read_batch(p), b)
    finally:
        stop.set()
        th.join(timeout=60)
    assert not errors, errors[:3]
    assert len(seen) >= 3, "racing reader barely ran"
    assert committed_state(td2) == folds[-1]


def test_t30b_partitioned_sink_layout_and_partition_reads(spark, sf_dir):
    """t30b path-level pins: after the partitioned streaming replay the
    committed manifest IS a partitioned generation (partition_col,
    per-file values, Hive dirs), the final state matches t30's
    unpartitioned run row-for-row (layout must not change semantics —
    the replay's updates move keys between partitions on every batch),
    and read_committed_partitions serves single event-type partitions
    consistent with the full read."""
    import os

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.sources.manifest import (
        read_committed_partitions,
        read_manifest,
    )
    from ez_cdc_spark.streaming.replay import _dir_for

    got_b = sorted(
        tuple(str(v) for v in r)
        for r in load_all()["t30b_lakehouse_cdc_merge_partitioned"]
        .fn(spark, sf_dir)
        .collect()
    )
    got_a = sorted(
        tuple(str(v) for v in r)
        for r in load_all()["t30_lakehouse_cdc_merge"].fn(spark, sf_dir).collect()
    )
    assert got_b == got_a and len(got_b) > 0

    td = _dir_for(sf_dir, f"lakehouse-t30b-{os.getpid()}")
    man = read_manifest(td)
    assert man["partition_col"] == "first_name"
    assert set(man["partitions"]) == set(man["files"])
    values = {v for v in man["partitions"].values()}
    assert len(values) >= 2, values
    for rel in man["files"]:
        assert f"first_name={man['partitions'][rel]}" in rel.replace("%20", " ")

    full = {r[0]: r[2] for r in got_b}  # stringified id -> first_name
    for v in sorted(values):
        part = read_committed_partitions(spark, td, [v])
        ids = {str(r["id"]) for r in part.collect()}
        assert ids == {k for k, fn in full.items() if fn == v}, v


def test_t30b_partitioned_sink_kill_restart(spark, tmp_path, sf_dir):
    """t30b under the same kill rig as t30: a mid-stream kill of the
    PARTITIONED lakehouse sink, a same-checkpoint restart, and the final
    committed state must equal the one-shot t9 oracle state row-for-row —
    the partitioned merge's txn watermark and layout survive the crash."""
    import time

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.sources.manifest import (
        publish_partitioned,
        read_committed,
        read_manifest,
    )
    from ez_cdc_spark.streaming.cdc import (
        ENVELOPE_JSON_SCHEMA,
        envelopes_jsonl_lsn_split,
        lakehouse_merge_batch,
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    path = envelopes_jsonl_lsn_split(spark, sf_dir)
    td = str(tmp_path / "laketable-part")
    ckpt = str(tmp_path / "ckpt-part")
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("lsn", LongType()),
            StructField("first_name", StringType()),
            StructField("last_name", StringType()),
            StructField("email", StringType()),
        ]
    )
    publish_partitioned(
        spark.createDataFrame([], schema),
        td,
        generation=1,
        partition_col="first_name",
        stats_columns=["id"],
    )

    def start():
        env = (
            spark.readStream.schema(ENVELOPE_JSON_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(path)
        )
        return (
            env.writeStream.foreachBatch(
                lakehouse_merge_batch(td, tag="t30bkill", max_files=8,
                                      compact_target_files=2,
                                      gc_older_than_s=3600.0)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    deadline = time.time() + 120
    while not q.recentProgress and time.time() < deadline:
        time.sleep(0.2)
    assert q.recentProgress, "first micro-batch never committed"
    stop_and_await(q)

    q2 = start()
    q2.awaitTermination()

    man = read_manifest(td)
    assert man["partition_col"] == "first_name"
    got = sorted(
        tuple(str(v) for v in r)
        for r in read_committed(spark, td)
        .select("id", "lsn", "first_name", "last_name", "email")
        .collect()
    )
    want = sorted(
        tuple(str(v) for v in r)
        for r in load_all()["t9_cdc_upsert"].fn(spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0


def test_t31_drift_sink_kill_restart_across_evolution(spark, tmp_path, sf_dir):
    """t31 under the kill rig, with the kill placed ACROSS the schema
    evolution boundary: run 1 is stopped only after the sink has detected
    the drifted envelopes and committed the S32 evolution (the table
    schema already carries `phone`); run 2 resumes from the same
    checkpoint and must drain the remaining batches against the evolved
    schema. Pins: (a) final state equals the declarative drift oracle
    row-for-row, (b) exactly ONE evolution commit exists across both runs
    (the replayed boundary batch must NOT re-evolve), and (c) pre-drift
    envelope files genuinely lack the `phone` key while post-drift files
    carry it (the fixture's honesty — detection has something real to
    detect)."""
    import json as _json
    import os
    import time

    from pyspark.sql import functions as F  # noqa: N812
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from ez_cdc_spark.sources.manifest import (
        publish,
        read_committed,
        read_manifest,
    )
    from ez_cdc_spark.streaming.cdc import (
        envelopes_jsonl_drift,
        lakehouse_drift_merge_batch,
    )

    path, threshold = envelopes_jsonl_drift(spark, sf_dir)
    stages = sorted(f for f in os.listdir(path) if f.startswith("stage-"))
    assert len(stages) >= 3, stages
    first_lines = open(os.path.join(path, stages[0])).read().splitlines()
    last_lines = open(os.path.join(path, stages[-1])).read().splitlines()
    assert all('"phone"' not in ln for ln in first_lines), "pre-drift leak"
    assert any('"phone"' in ln for ln in last_lines), "post-drift missing"

    td = str(tmp_path / "laketable-drift")
    ckpt = str(tmp_path / "ckpt-drift")
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("lsn", LongType()),
            StructField("first_name", StringType()),
            StructField("last_name", StringType()),
            StructField("email", StringType()),
        ]
    )
    publish(spark.createDataFrame([], schema), td, generation=1, stats_columns=["id"])

    def start():
        raw = spark.readStream.option("maxFilesPerTrigger", 1).text(path)
        return (
            raw.writeStream.foreachBatch(
                lakehouse_drift_merge_batch(
                    td,
                    tag="t31kill",
                    max_files=8,
                    compact_target_files=2,
                    gc_older_than_s=3600.0,
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    # wait until the EVOLUTION has committed (schema carries phone), then
    # kill — the boundary batch is the last thing run 1 did
    deadline = time.time() + 120
    evolved = False
    while time.time() < deadline:
        try:
            names = [f["name"] for f in read_manifest(td)["schema"]["fields"]]
            if "phone" in names:
                evolved = True
                break
        except (FileNotFoundError, KeyError, ValueError):
            pass
        time.sleep(0.1)
    assert evolved, "evolution never committed in run 1"
    stop_and_await(q)

    q2 = start()
    q2.awaitTermination()

    # (b) exactly one evolution commit across both runs
    mdir = os.path.join(td, "_manifests")
    evolve_commits = 0
    for m in os.listdir(mdir):
        if m.startswith("gen-") and m.endswith(".json"):
            with open(os.path.join(mdir, m)) as fh:
                if "evolve" in _json.load(fh):
                    evolve_commits += 1
    assert evolve_commits == 1, evolve_commits
    names = [f["name"] for f in read_manifest(td)["schema"]["fields"]]
    assert names[-1] == "phone", names

    # (a) final state == the declarative drift oracle
    from ez_cdc_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    dup = ev.filter(F.col("event_id") % 97 == 0)
    env = ev.unionByName(dup).select(
        (F.col("event_id") % 200).cast("bigint").alias("id"),
        F.coalesce(
            F.when(F.col("event_type") == "signup", F.lit("c")),
            F.when(F.col("event_type") == "error", F.lit("d")),
            F.lit("u"),
        ).alias("op"),
        F.col("event_id").cast("bigint").alias("lsn"),
        F.col("event_type").alias("first_name"),
        F.col("user_id").cast("string").alias("last_name"),
        F.concat_ws("@", F.col("user_id").cast("string"), F.col("event_type")).alias("email"),
        F.when(
            F.col("event_id") >= threshold,
            F.concat(F.lit("p-"), F.col("event_id").cast("string")),
        ).alias("phone"),
    )
    winner = env.groupBy("id").agg(
        F.max_by(
            F.struct("op", "lsn", "first_name", "last_name", "email", "phone"),
            F.col("lsn"),
        ).alias("w")
    )
    want_df = winner.select("id", "w.*").where(F.col("op") != "d").select(
        "id", "lsn", "first_name", "last_name", "email", "phone"
    )
    got = sorted(
        tuple(str(v) for v in r)
        for r in read_committed(spark, td)
        .select("id", "lsn", "first_name", "last_name", "email", "phone")
        .collect()
    )
    want = sorted(tuple(str(v) for v in r) for r in want_df.collect())
    assert got == want and len(got) > 0


def _t32_bootstrap(spark, tmp_path):
    """Bootstrap the t32 producer/consumer table pair (upstream CDC table
    + downstream per-event-type aggregate) in a tmp dir."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from ez_cdc_spark.sources.manifest import publish

    td = str(tmp_path / "feedtable")
    ad = str(tmp_path / "feedagg")
    publish(
        spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("id", LongType()),
                    StructField("lsn", LongType()),
                    StructField("first_name", StringType()),
                    StructField("last_name", StringType()),
                    StructField("email", StringType()),
                ]
            ),
        ),
        td,
        generation=1,
        stats_columns=["id"],
    )
    publish(
        spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("first_name", StringType()),
                    StructField("n", LongType()),
                    StructField("sum_lsn", LongType()),
                ]
            ),
        ),
        ad,
        generation=1,
        stats_columns=["first_name"],
    )
    return td, ad


def _t32_recompute(spark, td):
    """Full recompute of the downstream aggregate from the upstream
    table's current committed state — the invariant the feed-driven
    path must reproduce after every batch."""
    import pyspark.sql.functions as F  # noqa: N812

    from ez_cdc_spark.sources.manifest import read_committed

    return sorted(
        (r["first_name"], r["n"], r["s"])
        for r in read_committed(spark, td)
        .groupBy("first_name")
        .agg(F.count("*").alias("n"), F.sum("lsn").alias("s"))
        .collect()
    )


def _t32_agg_state(spark, ad):
    from ez_cdc_spark.sources.manifest import read_committed

    return sorted(
        (r["first_name"], r["n"], r["sum_lsn"])
        for r in read_committed(spark, ad).collect()
    )


def test_t32_feed_driven_equals_full_recompute_after_every_batch(
    spark, tmp_path, sf_dir
):
    """The r15 verdict #2 'done' condition: after EVERY micro-batch, the
    downstream aggregate the consumer maintained purely from
    change_feed(cursor, cur) equals a full recompute from the upstream
    table's committed state — incremental == declarative at every commit
    point, not just at the end. Also pins the crash boundaries: a replay
    of an applied batch is a full no-op (neither table advances), and a
    crash BETWEEN the producer and consumer commits replays into 'skip
    upstream, apply exactly the missed interval'."""
    import os

    from ez_cdc_spark.sources.manifest import read_manifest
    from ez_cdc_spark.streaming.cdc import (
        ENVELOPE_JSON_SCHEMA,
        envelopes_jsonl_lsn_split,
        lakehouse_feed_fanout_batch,
        lakehouse_merge_batch,
    )

    path = envelopes_jsonl_lsn_split(spark, sf_dir)
    stage_files = sorted(
        f for f in os.listdir(path) if f.startswith("stage-") and f.endswith(".json")
    )
    assert len(stage_files) >= 3, "need a multi-batch replay"
    td, ad = _t32_bootstrap(spark, tmp_path)
    fanout = lakehouse_feed_fanout_batch(td, ad, tag="t32g", consumer_tag="t32gc")

    batches = [
        spark.read.schema(ENVELOPE_JSON_SCHEMA).json(os.path.join(path, f))
        for f in stage_files
    ]

    # batch 0: simulate a crash BETWEEN the two commits — producer lands,
    # consumer never runs (same tag, so the fanout's merge will skip)
    lakehouse_merge_batch(td, tag="t32g")(batches[0], 0)
    assert _t32_agg_state(spark, ad) == []  # consumer state is stale
    assert _t32_recompute(spark, td) != []  # upstream committed
    gen_after_crash = read_manifest(td)["generation"]

    # the replayed trigger: upstream skips, consumer applies the missed
    # interval — and from here on, every batch must hold the invariant
    for i, batch in enumerate(batches):
        fanout(batch, i)
        assert read_manifest(td)["generation"] >= gen_after_crash
        assert _t32_agg_state(spark, ad) == _t32_recompute(spark, td), (
            f"feed-driven aggregate diverged after batch {i}"
        )

    # full replay of the final batch: both watermarks skip, nothing moves
    g_td = read_manifest(td)["generation"]
    g_ad = read_manifest(ad)["generation"]
    fanout(batches[-1], len(batches) - 1)
    assert read_manifest(td)["generation"] == g_td
    assert read_manifest(ad)["generation"] == g_ad

    # the consumer's cursor is the upstream's current generation
    from ez_cdc_spark.sources.manifest import txn_watermark

    assert txn_watermark(read_manifest(ad), "t32gc")["consumed_gen"] == g_td


def test_t32_feed_consumer_kill_restart(spark, tmp_path, sf_dir):
    """t32 under a real mid-stream kill+restart: both transactional
    watermarks (producer batch_id upstream, consumer consumed_gen
    downstream) must compose to the exact final aggregate after the
    restart drains the remaining stages."""
    import time

    from ez_cdc_spark.streaming.cdc import (
        ENVELOPE_JSON_SCHEMA,
        envelopes_jsonl_lsn_split,
        lakehouse_feed_fanout_batch,
    )

    path = envelopes_jsonl_lsn_split(spark, sf_dir)
    td, ad = _t32_bootstrap(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")

    def start():
        env = (
            spark.readStream.schema(ENVELOPE_JSON_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(path)
        )
        return (
            env.writeStream.foreachBatch(
                lakehouse_feed_fanout_batch(td, ad, tag="t32k", consumer_tag="t32kc")
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    deadline = time.time() + 120
    while not q.recentProgress and time.time() < deadline:
        time.sleep(0.2)
    assert q.recentProgress, "first micro-batch never committed"
    stop_and_await(q)

    q2 = start()
    q2.awaitTermination()

    got = _t32_agg_state(spark, ad)
    want = _t32_recompute(spark, td)
    assert got == want and len(got) > 0


def test_t31_nested_struct_drift_detected_and_evolved(spark, tmp_path):
    """r15 verdict #6 'done' condition: an upstream ADD COLUMN inside a
    NESTED struct member must never be silently dropped by the drift
    sink. The recursive detector probes every struct path the stored
    schema declares, commits an additive nested evolution
    (evolve_schema_nested), and decodes with the widened struct — rows
    written before the drift read the new member as NULL, post-drift
    values land verbatim, and a replay across the evolution boundary is
    idempotent (detection finds nothing new)."""
    import json as _json

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ez_cdc_spark.sources.manifest import (
        publish,
        read_committed,
        read_manifest,
    )
    from ez_cdc_spark.streaming.cdc import lakehouse_drift_merge_batch

    td = str(tmp_path / "nesteddrift")
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("lsn", LongType()),
            StructField("first_name", StringType()),
            StructField(
                "address",
                StructType([StructField("city", StringType(), True)]),
                True,
            ),
        ]
    )
    publish(spark.createDataFrame([], schema), td, generation=1, stats_columns=["id"])

    def env(id_, lsn, fn, addr):
        return _json.dumps(
            {
                "after": {"id": id_, "first_name": fn, "address": addr},
                "source": {"lsn": lsn},
                "op": "u",
            }
        )

    # batch 0: pre-drift — address has only {city}
    b0 = spark.createDataFrame(
        [(env(1, 10, "a", {"city": "rome"}),), (env(2, 11, "b", {"city": "oslo"}),)],
        "value string",
    )
    # batch 1: drift — address gains a 'street' member mid-stream
    b1 = spark.createDataFrame(
        [
            (env(2, 20, "b2", {"city": "oslo", "street": "elm"}),),
            (env(3, 21, "c", {"city": "lima", "street": "oak"}),),
        ],
        "value string",
    )
    sink = lakehouse_drift_merge_batch(td, tag="t31nest")
    sink(b0, 0)
    man = read_manifest(td)
    addr0 = next(f for f in man["schema"]["fields"] if f["name"] == "address")
    assert [f["name"] for f in addr0["type"]["fields"]] == ["city"]

    sink(b1, 1)
    man = read_manifest(td)
    addr1 = next(f for f in man["schema"]["fields"] if f["name"] == "address")
    assert [f["name"] for f in addr1["type"]["fields"]] == ["city", "street"]
    # the evolution commit names the dotted member
    mdir_gens = []
    import os as _os

    for f in sorted(_os.listdir(_os.path.join(td, "_manifests"))):
        if f.startswith("gen-"):
            g = read_manifest(td, int(f.split("-")[1].split(".")[0]))
            if g.get("evolve"):
                mdir_gens.append(tuple(g["evolve"]["added"]))
    assert mdir_gens.count(("address.street",)) == 1, mdir_gens

    rows = {
        r["id"]: (r["first_name"], r["address"]["city"], r["address"]["street"])
        for r in read_committed(spark, td).collect()
    }
    # pre-drift key 1 NULL-fills street; updated key 2 and new key 3 carry it
    assert rows == {
        1: ("a", "rome", None),
        2: ("b2", "oslo", "elm"),
        3: ("c", "lima", "oak"),
    }

    # replay across the evolution boundary: watermark skips, nothing moves
    gen_before = read_manifest(td)["generation"]
    sink(b1, 1)
    assert read_manifest(td)["generation"] == gen_before
    # and a fresh batch with the SAME drifted shape evolves nothing new
    b2 = spark.createDataFrame(
        [(env(4, 30, "d", {"city": "kiev", "street": "ash"}),)], "value string"
    )
    sink(b2, 2)
    man2 = read_manifest(td)
    addr2 = next(f for f in man2["schema"]["fields"] if f["name"] == "address")
    assert [f["name"] for f in addr2["type"]["fields"]] == ["city", "street"]
    assert read_committed(spark, td).count() == 4


def test_evolve_schema_nested_validation(spark, tmp_path):
    """evolve_schema_nested rejects non-struct paths, missing paths,
    member collisions, and non-nullable members — the same strictness
    gate as evolve_schema, one level down."""
    import pytest as _pytest
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ez_cdc_spark.sources.manifest import evolve_schema_nested, publish

    td = str(tmp_path / "nestedval")
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField(
                "meta",
                StructType([StructField("kind", StringType(), True)]),
                True,
            ),
        ]
    )
    publish(spark.createDataFrame([], schema), td, generation=1)
    with _pytest.raises(ValueError, match="not a struct"):
        evolve_schema_nested(td, 2, "id", [StructField("x", StringType(), True)])
    with _pytest.raises(ValueError, match="does not exist"):
        evolve_schema_nested(td, 2, "nope", [StructField("x", StringType(), True)])
    with _pytest.raises(ValueError, match="already exists"):
        evolve_schema_nested(td, 2, "meta", [StructField("KIND", StringType(), True)])
    with _pytest.raises(ValueError, match="nullable"):
        evolve_schema_nested(td, 2, "meta", [StructField("x", StringType(), False)])
    evolve_schema_nested(td, 2, "meta", [StructField("x", StringType(), True)])
    from ez_cdc_spark.sources.manifest import read_manifest

    meta = next(f for f in read_manifest(td)["schema"]["fields"] if f["name"] == "meta")
    assert [f["name"] for f in meta["type"]["fields"]] == ["kind", "x"]


def test_t33_mor_sink_kill_restart_and_bounded_delete_log(spark, tmp_path, sf_dir):
    """t33 under a real mid-stream kill+restart: the merge-on-read sink's
    txn watermark skips replayed batches, the restart drains the
    remaining stages, and the read_mor-resolved final state equals the
    one-shot t9 oracle state row-for-row. The in-loop compact_mor policy
    must have fired (the lsn-split replay exceeds max_delete_files) and
    the pending delete log stays bounded by the threshold + the batches
    since the last fold."""
    import time

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from ez_cdc_spark.queries import load_all
    from ez_cdc_spark.sources.manifest import publish, read_manifest, read_mor
    from ez_cdc_spark.streaming.cdc import (
        ENVELOPE_JSON_SCHEMA,
        envelopes_jsonl_lsn_split,
        lakehouse_mor_batch,
    )

    path = envelopes_jsonl_lsn_split(spark, sf_dir)
    td = str(tmp_path / "mortable")
    ckpt = str(tmp_path / "ckpt")
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("lsn", LongType()),
            StructField("first_name", StringType()),
            StructField("last_name", StringType()),
            StructField("email", StringType()),
        ]
    )
    publish(spark.createDataFrame([], schema), td, generation=1, stats_columns=["id"])

    max_dels = 2  # low threshold so the fold provably fires mid-replay

    def start():
        env = (
            spark.readStream.schema(ENVELOPE_JSON_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(path)
        )
        return (
            env.writeStream.foreachBatch(
                lakehouse_mor_batch(td, tag="t33kill", max_delete_files=max_dels)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    deadline = time.time() + 120
    while not q.recentProgress and time.time() < deadline:
        time.sleep(0.2)
    assert q.recentProgress, "first micro-batch never committed"
    stop_and_await(q)

    q2 = start()
    q2.awaitTermination()

    got = sorted(
        tuple(str(v) for v in r)
        for r in read_mor(spark, td)
        .select("id", "lsn", "first_name", "last_name", "email")
        .collect()
    )
    want = sorted(
        tuple(str(v) for v in r)
        for r in load_all()["t9_cdc_upsert"].fn(spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0

    # the fold fired and bounded the log: a compact_mor commit exists
    # (a generation with no delete_files whose parent had them), and the
    # final pending log is at most the threshold + 1 (one merge can land
    # after the last fold before the stream drains)
    import json as _json
    import os as _os

    mdir = _os.path.join(td, "_manifests")
    folds = 0
    for f in sorted(_os.listdir(mdir)):
        if not (f.startswith("gen-") and f.endswith(".json")):
            continue
        with open(_os.path.join(mdir, f)) as fh:
            man = _json.load(fh)
        if man.get("mor") is None and not man.get("delete_files") and man[
            "generation"
        ] > 1 and "merge" not in man and "append" not in man:
            folds += 1  # a publish over a MOR parent == compact_mor commit
    assert folds >= 1, "compact_mor never fired during the replay"
    final = read_manifest(td)
    assert len(final.get("delete_files") or []) <= max_dels + 1

    # replay idempotence: re-applying the last batch is a no-op
    stage_files = sorted(
        f for f in _os.listdir(path) if f.startswith("stage-") and f.endswith(".json")
    )
    wm_tag_man = read_manifest(td)
    from ez_cdc_spark.sources.manifest import txn_watermark

    last_bid = txn_watermark(wm_tag_man, "t33kill")["batch_id"]
    replay = spark.read.schema(ENVELOPE_JSON_SCHEMA).json(
        _os.path.join(path, stage_files[-1])
    )
    lakehouse_mor_batch(td, tag="t33kill", max_delete_files=max_dels)(replay, last_bid)
    assert read_manifest(td)["generation"] == wm_tag_man["generation"]


def test_s37_restore_rewinds_sink_watermark_and_replay_reapplies(
    spark, tmp_path, sf_dir
):
    """The s37 watermark-rewind contract exercised through the LIVE
    lakehouse sink: after restoring to the generation batch k committed,
    the sink's replay-skip watermark is k again — a replayed batch k
    SKIPS (still applied in the restored state) while batch k+1
    RE-APPLIES (the restore un-applied it), and the re-applied state
    equals the original batch-(k+1) generation row-for-row. Carrying the
    newer watermark through restore would have skipped k+1 silently —
    the data-loss-by-bookkeeping failure the restore semantics exist to
    prevent."""
    import os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from ez_cdc_spark.sources.manifest import (
        publish,
        read_committed,
        read_manifest,
        restore,
        txn_watermark,
    )
    from ez_cdc_spark.streaming.cdc import (
        ENVELOPE_JSON_SCHEMA,
        envelopes_jsonl_lsn_split,
        lakehouse_merge_batch,
    )

    path = envelopes_jsonl_lsn_split(spark, sf_dir)
    stage_files = sorted(
        f for f in os.listdir(path) if f.startswith("stage-") and f.endswith(".json")
    )
    assert len(stage_files) >= 4
    td = str(tmp_path / "restoretable")
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("lsn", LongType()),
            StructField("first_name", StringType()),
            StructField("last_name", StringType()),
            StructField("email", StringType()),
        ]
    )
    publish(spark.createDataFrame([], schema), td, generation=1, stats_columns=["id"])

    sink = lakehouse_merge_batch(td, tag="t30res")  # no maintenance: retain all
    batches = [
        spark.read.schema(ENVELOPE_JSON_SCHEMA).json(os.path.join(path, f))
        for f in stage_files
    ]
    gen_of_batch = {}
    for i, b in enumerate(batches):
        sink(b, i)
        gen_of_batch[i] = read_manifest(td)["generation"]

    k = 1  # restore to the state after batch 1 (un-applying 2..n)
    snap_k1 = sorted(
        map(
            tuple,
            read_committed(
                spark, td, as_of_generation=gen_of_batch[k + 1]
            ).collect(),
        )
    )
    restore(td, read_manifest(td)["generation"] + 1, as_of_generation=gen_of_batch[k])
    assert txn_watermark(read_manifest(td), "t30res") == {"batch_id": k}

    g_before = read_manifest(td)["generation"]
    sink(batches[k], k)  # replay of an applied batch: must skip
    assert read_manifest(td)["generation"] == g_before
    sink(batches[k + 1], k + 1)  # un-applied by the restore: must re-apply
    assert read_manifest(td)["generation"] > g_before
    got = sorted(map(tuple, read_committed(spark, td).collect()))
    assert got == snap_k1, "re-applied batch must reproduce the original state"
    assert txn_watermark(read_manifest(td), "t30res") == {"batch_id": k + 1}


def test_t34_mor_feed_consumer_composes_across_midstream_folds(
    spark, tmp_path, sf_dir
):
    """t34's load-bearing property: the downstream aggregate maintained
    purely from change_feed_mor equals a full recompute of the upstream
    MOR state after EVERY trigger — including the triggers whose consumer
    interval crosses a mid-stream compact_mor fold (we assert folds
    really fired between consumer reads, so the composition path is
    provably on the line, not idle machinery)."""
    import os

    from ez_cdc_spark.sources.manifest import read_manifest, read_mor
    from ez_cdc_spark.streaming.cdc import (
        ENVELOPE_JSON_SCHEMA,
        envelopes_jsonl_lsn_split,
        lakehouse_mor_fanout_batch,
    )

    path = envelopes_jsonl_lsn_split(spark, sf_dir)
    stage_files = sorted(
        f for f in os.listdir(path) if f.startswith("stage-") and f.endswith(".json")
    )
    td, ad = _t32_bootstrap(spark, tmp_path)
    fanout = lakehouse_mor_fanout_batch(
        td, ad, tag="t34g", consumer_tag="t34gc", max_delete_files=1
    )
    batches = [
        spark.read.schema(ENVELOPE_JSON_SCHEMA).json(os.path.join(path, f))
        for f in stage_files
    ]

    def recompute():
        import pyspark.sql.functions as F  # noqa: N812

        return sorted(
            (r["first_name"], r["n"], r["s"])
            for r in read_mor(spark, td)
            .groupBy("first_name")
            .agg(F.count("*").alias("n"), F.sum("lsn").alias("s"))
            .collect()
        )

    folds_seen = 0
    prev_dels = 0
    for i, batch in enumerate(batches):
        fanout(batch, i)
        cur_dels = len(read_manifest(td).get("delete_files") or [])
        if cur_dels < prev_dels:
            folds_seen += 1
        prev_dels = cur_dels
        assert _t32_agg_state(spark, ad) == recompute(), (
            f"MOR feed-driven aggregate diverged after batch {i}"
        )
    assert folds_seen >= 1, "no mid-stream fold fired — raise the replay size"

    # replay of the last trigger: both watermarks skip, nothing moves
    g_td, g_ad = read_manifest(td)["generation"], read_manifest(ad)["generation"]
    fanout(batches[-1], len(batches) - 1)
    assert read_manifest(td)["generation"] == g_td
    assert read_manifest(ad)["generation"] == g_ad


def test_t35_restore_rewinds_watermark_and_replay_reapplies_exactly(
    spark, sf_dir
):
    """T35 recovery contract, pinned commit by commit: restore rewinds the
    sink's txn watermark to the TARGET generation's (s37), and the fresh
    at-least-once redelivery then re-applies exactly the batches the
    rollback un-applied — no fewer (data loss), no more (double apply)."""
    from ez_cdc_spark.sources.manifest import (
        read_committed,
        read_manifest,
        txn_watermark,
    )
    from ez_cdc_spark.streaming.cdc import _run_lakehouse_restore

    tag = "t35pin"
    state, td = _run_lakehouse_restore(
        spark, sf_dir, tag=tag, restore_after_batch=1
    )
    man = read_manifest(td)
    manifests = {
        g: read_manifest(td, g) for g in range(1, man["generation"] + 1)
    }
    restore_gens = [g for g, m in manifests.items() if "restore" in m]
    assert len(restore_gens) == 1, f"exactly one restore commit: {restore_gens}"
    rg = restore_gens[0]

    # the restore commit's watermark is the TARGET's, not the parent's
    assert txn_watermark(manifests[rg], tag)["batch_id"] == 1
    target = manifests[rg]["restore"]["restored_from"]
    assert txn_watermark(manifests[target], tag)["batch_id"] == 1
    pre_restore_wm = txn_watermark(manifests[rg - 1], tag)["batch_id"]
    assert pre_restore_wm > 1, "phase 1 must have applied batches past the target"

    # phase 3 re-applied exactly batches 2..N-1, in order, once each
    n_batches = pre_restore_wm + 1
    post = [g for g in sorted(manifests) if g > rg and "merge" in manifests[g]]
    assert [
        txn_watermark(manifests[g], tag)["batch_id"] for g in post
    ] == list(range(2, n_batches))

    # final state == the uninterrupted replay's committed state,
    # and the rolled-back mid state genuinely differs (re-apply happened)
    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(state) == rows(read_committed(spark, td, rg - 1))
    assert rows(state) != rows(read_committed(spark, td, target))


def test_t35_carrying_newer_watermark_loses_the_unapplied_batches(
    spark, sf_dir, tmp_path
):
    """The counterfactual that makes s37's rewind load-bearing: a rollback
    commit that carries the PARENT's (newer) txn watermark instead of the
    target's leaves redelivery skipping every batch — the table stays
    stuck at the rolled-back state forever, silent data loss by
    bookkeeping. This is the failure mode the t35 oracle equality rules
    out; here it is witnessed directly against manifest internals."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ez_cdc_spark.sources.manifest import (
        _commit_manifest,
        publish,
        read_committed,
        read_manifest,
        txn_watermark,
    )
    from ez_cdc_spark.streaming.cdc import (
        envelopes_jsonl_lsn_split,
        lakehouse_merge_batch,
    )

    tag = "t35bad"
    td = str(tmp_path / "t35bad-table")
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("lsn", LongType()),
            StructField("first_name", StringType()),
            StructField("last_name", StringType()),
            StructField("email", StringType()),
        ]
    )
    publish(spark.createDataFrame([], schema), td, generation=1,
            stats_columns=["id"])
    path = envelopes_jsonl_lsn_split(spark, sf_dir)

    def replay():
        q = (
            spark.readStream.schema(ENVELOPE_JSON_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(path)
            .writeStream.foreachBatch(lakehouse_merge_batch(td, tag))
            .option("checkpointLocation", checkpoint_dir())
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    replay()
    man = read_manifest(td)
    manifests = {
        g: read_manifest(td, g) for g in range(2, man["generation"] + 1)
    }
    target = next(
        g for g, m in manifests.items()
        if (txn_watermark(m, tag) or {}).get("batch_id") == 1
    )

    # the BUGGY rollback: target's content, parent's watermark map
    bad = {
        k: v
        for k, v in manifests[target].items()
        if k not in ("generation", "merge")
    }
    bad["generation"] = man["generation"] + 1
    bad["txns"] = man["txns"]  # <- carries the newer watermark (the bug)
    bad["restore"] = {
        "parent": man["generation"], "restored_from": target,
    }
    _commit_manifest(td, bad["generation"], bad,
                     expected_parent=man["generation"])

    replay()  # fresh checkpoint: full at-least-once redelivery

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    after = read_manifest(td)
    # every batch skipped: not one merge commit landed after the rollback
    assert after["generation"] == bad["generation"]
    # and the table is stuck at the rolled-back state, missing the
    # un-applied batches the correct rewind would have recovered
    assert rows(read_committed(spark, td)) == rows(
        read_committed(spark, td, target)
    )
    assert rows(read_committed(spark, td)) != rows(
        read_committed(spark, td, man["generation"])
    )


def test_t36_mor_restore_carries_delete_log_and_reapplies_exactly(
    spark, sf_dir
):
    """T36 recovery contract: the restore target is a GENUINE merge-on-read
    generation (pending equality-delete log), the restore commit carries
    that log + sequence maps by reference, and the redelivery lands new
    merge_mor commits on top — exactly the un-applied batches, in order,
    with the resolved state converging to the uninterrupted replay's."""
    from ez_cdc_spark.sources.manifest import (
        read_manifest,
        read_mor,
        txn_watermark,
    )
    from ez_cdc_spark.streaming.cdc import _run_lakehouse_mor_restore

    tag = "t36pin"
    state, td = _run_lakehouse_mor_restore(
        spark, sf_dir, tag=tag, restore_after_batch=1
    )
    man = read_manifest(td)
    manifests = {
        g: read_manifest(td, g) for g in range(1, man["generation"] + 1)
    }
    restore_gens = [g for g, m in manifests.items() if "restore" in m]
    assert len(restore_gens) == 1
    rg = restore_gens[0]
    target = manifests[rg]["restore"]["restored_from"]

    # the target is genuinely merge-on-read, and the restore commit
    # carried its whole MOR state by reference, watermark included
    assert manifests[target].get("delete_files"), "target must carry a pending log"
    assert manifests[rg]["delete_files"] == manifests[target]["delete_files"]
    assert manifests[rg]["file_seq"] == manifests[target]["file_seq"]
    assert manifests[rg]["delete_seq"] == manifests[target]["delete_seq"]
    assert manifests[rg]["mor_key"] == manifests[target]["mor_key"]
    assert txn_watermark(manifests[rg], tag)["batch_id"] == 1

    # redelivery re-applied exactly batches 2..N-1 as NEW MOR commits
    pre_restore_wm = txn_watermark(manifests[rg - 1], tag)["batch_id"]
    assert pre_restore_wm > 1
    post = [g for g in sorted(manifests) if g > rg and "mor" in manifests[g]]
    assert [
        txn_watermark(manifests[g], tag)["batch_id"] for g in post
    ] == list(range(2, pre_restore_wm + 1))
    # and they stacked ON TOP of the carried log (no fold in between)
    assert set(manifests[target]["delete_files"]).issubset(
        set(man["delete_files"])
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    # resolved final state == uninterrupted replay's resolved state,
    # and the rolled-back mid state genuinely differs
    assert rows(state) == rows(read_mor(spark, td, rg - 1))
    assert rows(state) != rows(read_mor(spark, td, target))


def test_t35_restore_succeeds_under_live_maintenance_with_retention(
    spark, sf_dir
):
    """Retention >= restore horizon, pinned in the LIVE maintenance loop:
    the sink compacts mid-stream but gc/vacuum run with a retention window
    (1 h) that covers the whole replay, so every generation the restore
    might target stays retained — restore succeeds and the redelivery
    converges exactly as in the maintenance-off t35."""
    from ez_cdc_spark.sources.manifest import read_committed, read_manifest
    from ez_cdc_spark.streaming.cdc import _run_lakehouse_restore

    state, td = _run_lakehouse_restore(
        spark,
        sf_dir,
        tag="t35ret",
        restore_after_batch=1,
        max_files=1,
        gc_older_than_s=3600.0,
    )
    man = read_manifest(td)
    manifests = {
        g: read_manifest(td, g) for g in range(1, man["generation"] + 1)
    }
    restore_gens = [g for g, m in manifests.items() if "restore" in m]
    assert len(restore_gens) == 1
    rg = restore_gens[0]
    # compaction genuinely fired during the replay (the live-maintenance
    # half of the claim — without it this collapses to the plain t35 pin)
    assert any("compact" in m for m in manifests.values()), (
        "maintenance never fired — lower max_files"
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(state) == rows(read_committed(spark, td, rg - 1))
    assert rows(state) != rows(
        read_committed(spark, td, manifests[rg]["restore"]["restored_from"])
    )


def test_t35_restore_refuses_when_gc_outran_the_restore_horizon(
    spark, sf_dir
):
    """The other half of the retention contract: with aggressive reclaim
    (retention 0 s, compaction firing in-loop), the generations that
    committed the early batches are gc'd by the time the replay drains —
    restoring to them must refuse LOUDLY (FileNotFoundError at target
    resolution or at restore's dangling-reference check), never commit a
    rollback pointing at reclaimed state."""
    import pytest as _pytest

    from ez_cdc_spark.streaming.cdc import _run_lakehouse_restore

    with _pytest.raises(FileNotFoundError):
        _run_lakehouse_restore(
            spark,
            sf_dir,
            tag="t35gc",
            restore_after_batch=0,
            max_files=1,
            gc_older_than_s=0.0,
        )


def test_t35b_partitioned_restore_carries_partition_map(spark, sf_dir):
    """T35b pin: on a partitioned table the restore commit's partition map
    is the TARGET's (by reference, no directory I/O), redelivery re-applies
    exactly the un-applied batches as partitioned merges, and the final
    state equals the uninterrupted partitioned replay's."""
    from ez_cdc_spark.sources.manifest import (
        read_committed,
        read_manifest,
        txn_watermark,
    )
    from ez_cdc_spark.streaming.cdc import _run_lakehouse_restore

    tag = "t35bpin"
    state, td = _run_lakehouse_restore(
        spark, sf_dir, tag=tag, restore_after_batch=1,
        partition_col="first_name",
    )
    man = read_manifest(td)
    manifests = {
        g: read_manifest(td, g) for g in range(1, man["generation"] + 1)
    }
    restore_gens = [g for g, m in manifests.items() if "restore" in m]
    assert len(restore_gens) == 1
    rg = restore_gens[0]
    target = manifests[rg]["restore"]["restored_from"]

    # partition layout carried by reference from the target, not the parent
    assert manifests[rg]["partition_col"] == "first_name"
    assert manifests[rg]["partitions"] == manifests[target]["partitions"]
    assert manifests[rg]["files"] == manifests[target]["files"]
    assert txn_watermark(manifests[rg], tag)["batch_id"] == 1

    # redelivery = exactly the un-applied batches, as partitioned merges
    pre_restore_wm = txn_watermark(manifests[rg - 1], tag)["batch_id"]
    post = [g for g in sorted(manifests) if g > rg and "merge" in manifests[g]]
    assert [
        txn_watermark(manifests[g], tag)["batch_id"] for g in post
    ] == list(range(2, pre_restore_wm + 1))
    assert all(manifests[g].get("partition_col") == "first_name" for g in post)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(state) == rows(read_committed(spark, td, rg - 1))
    assert rows(state) != rows(read_committed(spark, td, target))


def test_t37_consumer_follows_the_rollback_then_the_recovery(spark, sf_dir):
    """T37 pin, phase by phase: immediately after the upstream restore the
    consumer's next feed interval is the rollback's churn, and applying it
    rewinds the downstream aggregate to the recompute over the ROLLED-BACK
    upstream state; after redelivery the aggregate equals the recompute
    over the FINAL upstream state. Both equalities checked against the
    upstream table itself, so a mis-signed or skipped rollback interval
    cannot hide."""
    import pyspark.sql.functions as F  # noqa: N812

    from ez_cdc_spark.sources.manifest import read_committed
    from ez_cdc_spark.streaming.cdc import (
        _run_restore_feed_consumer,
        consume_feed_step,
    )

    tag = "t37pin"
    mid = {}

    def recompute(td):
        return sorted(
            (r["first_name"], r["n"], r["s"])
            for r in read_committed(spark, td)
            .groupBy("first_name")
            .agg(F.count("*").alias("n"), F.sum("lsn").alias("s"))
            .collect()
        )

    def agg_state(ad):
        return sorted(
            (r["first_name"], r["n"], r["sum_lsn"])
            for r in read_committed(spark, ad).collect()
        )

    def probe(td, ad):
        # downstream still reflects the PRE-rollback head here
        assert agg_state(ad) != recompute(td), (
            "rollback must change the upstream state the consumer lags"
        )
        # one consumer step applies the restore-crossing interval:
        # the downstream aggregate follows the rewind exactly
        consume_feed_step(spark, td, ad, consumer_tag=f"{tag}c")
        mid["rolled_back"] = agg_state(ad)
        assert mid["rolled_back"] == recompute(td), (
            "consumer did not follow the rollback"
        )

    state, td, ad = _run_restore_feed_consumer(
        spark, sf_dir, tag=tag, restore_after_batch=1, post_restore=probe
    )
    final = sorted(
        (r["first_name"], r["n"], r["sum_lsn"]) for r in state.collect()
    )
    assert final == recompute(td), "consumer did not follow the recovery"
    assert final != mid["rolled_back"], (
        "redelivery must move the aggregate off the rolled-back state"
    )


def _t38_fold(path):
    """Independent pure-Python replay of the corrupt-envelope stages with
    poisoned (non-delete) events dropped BEFORE folding — the t38 oracle's
    semantics, recomputed without Spark or DuckDB."""
    import json as _json
    import os

    stage_files = sorted(
        f for f in os.listdir(path) if f.startswith("stage-") and f.endswith(".json")
    )
    state: dict = {}
    for f in stage_files:
        events = [
            _json.loads(line)
            for line in open(os.path.join(path, f))
            if line.strip()
        ]
        for ev in sorted(events, key=lambda e: e["source"]["lsn"]):
            key = (ev.get("after") or ev.get("before"))["id"]
            if ev["op"] == "d":
                state.pop(key, None)
                continue
            if str(ev["after"].get("email", "")).startswith("corrupt-"):
                continue  # dead-lettered by the WAP gate
            state[key] = (ev["source"]["lsn"], ev["after"]["email"])
    return state


def test_t38_wap_kill_restart_quarantine_and_no_corrupt_commit(
    spark, tmp_path, sf_dir
):
    """t38 under a real kill+restart, plus the two WAP headline claims:
    (a) NO committed generation on main's chain ever contains a poisoned
    row — bad data never becomes visible, not even transiently; (b) the
    quarantine holds only poisoned events, and replaying the final batch
    is a watermark no-op."""
    import os
    import time

    from ez_cdc_spark.sources.manifest import (
        publish,
        read_committed,
        read_manifest,
    )
    from ez_cdc_spark.streaming.cdc import (
        ENVELOPE_JSON_SCHEMA,
        envelopes_jsonl_corrupt,
        lakehouse_wap_batch,
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    path = envelopes_jsonl_corrupt(spark, sf_dir)
    td = str(tmp_path / "waptable")
    qd = str(tmp_path / "quarantine")
    ckpt = str(tmp_path / "ckpt")
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("lsn", LongType()),
            StructField("first_name", StringType()),
            StructField("last_name", StringType()),
            StructField("email", StringType()),
        ]
    )
    publish(
        spark.createDataFrame([], schema),
        td,
        generation=1,
        stats_columns=["id"],
        constraints={"email_clean": "email IS NULL OR email NOT LIKE 'corrupt-%'"},
    )

    def start():
        env = (
            spark.readStream.schema(ENVELOPE_JSON_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(path)
        )
        return (
            env.writeStream.foreachBatch(lakehouse_wap_batch(td, qd, tag="t38kill"))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    deadline = time.time() + 120
    while not q.recentProgress and time.time() < deadline:
        time.sleep(0.2)
    assert q.recentProgress, "first micro-batch never published"
    stop_and_await(q)
    q2 = start()
    q2.awaitTermination()

    got = {
        r["id"]: (r["lsn"], r["email"])
        for r in read_committed(spark, td).collect()
    }
    assert got == _t38_fold(path) and len(got) > 0

    # (a) every committed generation on the MAIN chain is corrupt-free
    mdir = os.path.join(td, "_manifests")
    for f in sorted(os.listdir(mdir)):
        if not f.startswith("gen-"):
            continue
        g = int(f.split("-")[1].split(".")[0])
        n_bad = (
            read_committed(spark, td, as_of_generation=g)
            .filter("email LIKE 'corrupt-%'")
            .count()
        )
        assert n_bad == 0, f"generation {g} leaked {n_bad} poisoned rows"

    # (b) quarantine holds only poisoned non-delete events
    dlq = spark.read.parquet(qd)
    assert dlq.count() > 0
    assert dlq.filter("email NOT LIKE 'corrupt-%' OR op = 'd'").count() == 0

    # watermark no-op: replaying the last published batch cuts no branch,
    # burns no generation
    man = read_manifest(td)
    last_bid = man["txn"]["batch_id"]
    stage_files = sorted(
        f for f in os.listdir(path) if f.startswith("stage-") and f.endswith(".json")
    )
    replay = spark.read.schema(ENVELOPE_JSON_SCHEMA).json(
        os.path.join(path, stage_files[-1])
    )
    lakehouse_wap_batch(td, qd, tag="t38kill")(replay, last_bid)
    assert read_manifest(td)["generation"] == man["generation"]


def test_t38_crash_before_publish_republishes_from_fresh_branch(
    spark, tmp_path, sf_dir, monkeypatch
):
    """The crash window between the branch merge and the fast-forward: the
    watermark only advances at PUBLICATION, so the redelivered batch
    re-processes from a fresh branch and main converges to the same state
    — and the aborted attempt left main untouched (a stale leftover
    branch is abandoned on entry)."""
    import os

    import ez_cdc_spark.sources.manifest as M
    from ez_cdc_spark.sources.manifest import (
        list_branches,
        publish,
        read_committed,
        read_manifest,
    )
    from ez_cdc_spark.streaming.cdc import (
        ENVELOPE_JSON_SCHEMA,
        envelopes_jsonl_corrupt,
        lakehouse_wap_batch,
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    path = envelopes_jsonl_corrupt(spark, sf_dir)
    td = str(tmp_path / "wapcrash")
    qd = str(tmp_path / "quarantine")
    schema = StructType(
        [
            StructField("id", LongType()),
            StructField("lsn", LongType()),
            StructField("first_name", StringType()),
            StructField("last_name", StringType()),
            StructField("email", StringType()),
        ]
    )
    publish(
        spark.createDataFrame([], schema),
        td,
        generation=1,
        stats_columns=["id"],
        constraints={"email_clean": "email IS NULL OR email NOT LIKE 'corrupt-%'"},
    )
    stage_files = sorted(
        f for f in os.listdir(path) if f.startswith("stage-") and f.endswith(".json")
    )
    batch0 = spark.read.schema(ENVELOPE_JSON_SCHEMA).json(
        os.path.join(path, stage_files[0])
    )

    # crash INSIDE the publish step (after the branch merge committed)
    def boom(*a, **k):
        raise RuntimeError("injected crash before publication")

    apply = lakehouse_wap_batch(td, qd, tag="t38crash")
    monkeypatch.setattr(M, "fast_forward", boom)
    # lakehouse_wap_batch imports fast_forward inside apply(), so the
    # monkeypatched module attribute IS what it resolves
    try:
        apply(batch0, 0)
        raise AssertionError("injected crash did not propagate")
    except RuntimeError as e:
        assert "injected crash" in str(e)
    monkeypatch.undo()
    assert read_manifest(td)["generation"] == 1, "main moved without audit"
    assert read_committed(spark, td).count() == 0
    # the aborted attempt may already have quarantined this batch's poison
    # (the DLQ write precedes publication by design)
    dlq_after_crash = (
        spark.read.parquet(qd).count() if os.path.isdir(qd) else 0
    )

    # redelivery publishes the batch whole from a fresh branch
    lakehouse_wap_batch(td, qd, tag="t38crash")(batch0, 0)
    # DLQ idempotence across the redelivery (ADVICE r16): the replayed
    # batch OVERWRITES its own dlq_batch=<id> subdir instead of appending,
    # so the crash window cannot duplicate quarantined rows
    if dlq_after_crash:
        assert spark.read.parquet(qd).count() == dlq_after_crash
    man = read_manifest(td)
    assert man["txns"]["t38crash"] == {"batch_id": 0}
    assert list_branches(td) == {}
    got = {
        r["id"]: (r["lsn"], r["email"])
        for r in read_committed(spark, td).collect()
    }
    # fold of stage 0 only (lsn-sorted, corrupt non-deletes dropped first —
    # the same semantics as _t38_fold; within one batch a corrupt event
    # superseded in-batch is absorbed by the merge either way)
    import json as _json

    events = [
        _json.loads(line)
        for line in open(os.path.join(path, stage_files[0]))
        if line.strip()
    ]
    state: dict = {}
    for ev in sorted(events, key=lambda e: e["source"]["lsn"]):
        key = (ev.get("after") or ev.get("before"))["id"]
        if ev["op"] == "d":
            state.pop(key, None)
        elif not str(ev["after"].get("email", "")).startswith("corrupt-"):
            state[key] = (ev["source"]["lsn"], ev["after"]["email"])
    assert got == state and len(got) > 0


def test_t39_every_catalog_version_is_a_consistent_pair(spark, tmp_path, sf_dir):
    """The t39 headline: at EVERY catalog version, the state table equals
    the last-event-wins fold of the log table AT THAT VERSION — the
    cross-table consistency single-table commits cannot promise — plus
    kill+restart convergence and replay idempotence."""
    import time

    from pyspark.sql import functions as F  # noqa: N812
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from ez_cdc_spark.sources import catalog as C
    from ez_cdc_spark.sources.manifest import publish
    from ez_cdc_spark.streaming.cdc import (
        ENVELOPE_JSON_SCHEMA,
        catalog_fanout_batch,
        envelopes_jsonl_lsn_split,
    )

    path = envelopes_jsonl_lsn_split(spark, sf_dir)
    cd = str(tmp_path / "cat")
    ckpt = str(tmp_path / "ckpt")
    C.init(cd)
    state_schema = StructType(
        [
            StructField("id", LongType()),
            StructField("lsn", LongType()),
            StructField("first_name", StringType()),
            StructField("last_name", StringType()),
            StructField("email", StringType()),
        ]
    )
    log_schema = StructType(
        [
            StructField("lsn", LongType()),
            StructField("id", LongType()),
            StructField("op_code", StringType()),
            StructField("email", StringType()),
        ]
    )
    publish(spark.createDataFrame([], state_schema), C.table_dir(cd, "state"), 1, stats_columns=["id"])
    publish(spark.createDataFrame([], log_schema), C.table_dir(cd, "events_log"), 1, stats_columns=["lsn"])
    C.commit(cd, {"state": 1, "events_log": 1})
    base_version = C.current_version(cd)

    def start():
        return (
            spark.readStream.schema(ENVELOPE_JSON_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(path)
            .writeStream.foreachBatch(catalog_fanout_batch(cd, tag="t39kill"))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    deadline = time.time() + 120
    while not q.recentProgress and time.time() < deadline:
        time.sleep(0.2)
    assert q.recentProgress, "first micro-batch never published"
    stop_and_await(q)
    q2 = start()
    q2.awaitTermination()

    # the invariant, at EVERY published version: state == fold(log)
    final_version = C.current_version(cd)
    assert final_version > base_version
    for v in range(base_version, final_version + 1):
        state = {
            r["id"]: (r["lsn"], r["email"])
            for r in C.read_table(spark, cd, "state", version=v).collect()
        }
        log = C.read_table(spark, cd, "events_log", version=v)
        folded = {
            r["id"]: (r["lsn"], r["email"])
            for r in log.groupBy("id")
            .agg(
                F.max_by(F.struct("op_code", "email"), "lsn").alias("last"),
                F.max("lsn").alias("lsn"),
            )
            .filter("last.op_code <> 'd'")
            .select("id", "lsn", F.col("last.email").alias("email"))
            .collect()
        }
        assert state == folded, f"catalog version {v} pair inconsistent"
    assert len(state) > 0

    # replay idempotence: re-running the last published batch is a no-op
    import os

    snap = C.snapshot(cd)
    last_bid = C.txn_watermark(snap, "t39kill")["batch_id"]
    stage_files = sorted(
        f for f in os.listdir(path) if f.startswith("stage-") and f.endswith(".json")
    )
    replay = spark.read.schema(ENVELOPE_JSON_SCHEMA).json(
        os.path.join(path, stage_files[-1])
    )
    catalog_fanout_batch(cd, tag="t39kill")(replay, last_bid)
    assert C.current_version(cd) == snap["version"]


def test_t39_crash_between_table_commits_and_catalog_swap(
    spark, tmp_path, sf_dir, monkeypatch
):
    """The crash window: both tables' chains advanced but the catalog
    never swapped — readers still see the old consistent pair, the
    watermark is untouched, and the redelivered batch re-merges (new
    generations, same content) and publishes."""
    import os

    import ez_cdc_spark.sources.catalog as C
    from ez_cdc_spark.sources.manifest import current_generation, publish
    from ez_cdc_spark.streaming.cdc import (
        ENVELOPE_JSON_SCHEMA,
        catalog_fanout_batch,
        envelopes_jsonl_lsn_split,
    )
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    path = envelopes_jsonl_lsn_split(spark, sf_dir)
    cd = str(tmp_path / "catcrash")
    C.init(cd)
    state_schema = StructType(
        [
            StructField("id", LongType()),
            StructField("lsn", LongType()),
            StructField("first_name", StringType()),
            StructField("last_name", StringType()),
            StructField("email", StringType()),
        ]
    )
    log_schema = StructType(
        [
            StructField("lsn", LongType()),
            StructField("id", LongType()),
            StructField("op_code", StringType()),
            StructField("email", StringType()),
        ]
    )
    publish(spark.createDataFrame([], state_schema), C.table_dir(cd, "state"), 1, stats_columns=["id"])
    publish(spark.createDataFrame([], log_schema), C.table_dir(cd, "events_log"), 1, stats_columns=["lsn"])
    C.commit(cd, {"state": 1, "events_log": 1})
    v0 = C.current_version(cd)

    stage_files = sorted(
        f for f in os.listdir(path) if f.startswith("stage-") and f.endswith(".json")
    )
    batch0 = spark.read.schema(ENVELOPE_JSON_SCHEMA).json(
        os.path.join(path, stage_files[0])
    )

    real_commit = C.commit

    def boom(*a, **k):
        raise RuntimeError("injected crash before the catalog swap")

    monkeypatch.setattr(C, "commit", boom)
    try:
        catalog_fanout_batch(cd, tag="t39crash")(batch0, 0)
        raise AssertionError("injected crash did not propagate")
    except RuntimeError as e:
        assert "injected crash" in str(e)
    monkeypatch.setattr(C, "commit", real_commit)

    # tables advanced, catalog did not: readers still get the OLD pair
    assert current_generation(C.table_dir(cd, "state")) == 2
    assert C.current_version(cd) == v0
    assert C.read_table(spark, cd, "state").count() == 0
    assert C.txn_watermark(C.snapshot(cd), "t39crash") is None

    # redelivery re-merges (fresh generations) and publishes atomically
    catalog_fanout_batch(cd, tag="t39crash")(batch0, 0)
    snap = C.snapshot(cd)
    assert C.txn_watermark(snap, "t39crash") == {"batch_id": 0}
    n_state = C.read_table(spark, cd, "state").count()
    n_log = C.read_table(spark, cd, "events_log").count()
    assert n_state > 0 and n_log >= n_state


def test_t40_catalog_rollback_rewinds_both_chains_and_watermarks(
    spark, tmp_path, sf_dir
):
    """t40's composition contracts: the rollback rewinds BOTH table
    chains (per-table restore commits — not just the catalog pointer),
    carries the TARGET's watermarks (so redelivery re-applies exactly the
    un-applied batches; the carried-watermark counterfactual skips), the
    pair invariant holds at the rollback version, and refusals are loud."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F  # noqa: N812

    from ez_cdc_spark.sources import catalog as C
    from ez_cdc_spark.sources.manifest import current_generation, read_manifest
    from ez_cdc_spark.streaming.cdc import (
        ENVELOPE_JSON_SCHEMA,
        _bootstrap_fanout_catalog,
        catalog_fanout_batch,
        envelopes_jsonl_lsn_split,
    )

    path = envelopes_jsonl_lsn_split(spark, sf_dir)
    cd = str(tmp_path / "cat")
    _bootstrap_fanout_catalog(spark, cd)
    stage_files = sorted(
        f for f in os.listdir(path) if f.startswith("stage-") and f.endswith(".json")
    )
    apply = catalog_fanout_batch(cd, tag="t40g")
    for i, f in enumerate(stage_files):
        apply(spark.read.schema(ENVELOPE_JSON_SCHEMA).json(os.path.join(path, f)), i)

    # target = the version that published batch 1
    target = None
    for v in range(2, C.current_version(cd) + 1):
        wm = C.txn_watermark(C.snapshot(cd, v), "t40g") or {}
        if wm.get("batch_id") == 1:
            target = v
    assert target is not None
    target_tables = C.snapshot(cd, target)["tables"]
    pre_state_gen = current_generation(C.table_dir(cd, "state"))

    snap = C.rollback(cd, target)
    # watermark rewound to the target's
    assert C.txn_watermark(snap, "t40g") == {"batch_id": 1}
    # BOTH table chains rewound via restore commits whose content is the
    # target generation's file list, by reference
    for name in ("state", "events_log"):
        td = C.table_dir(cd, name)
        g_now = current_generation(td)
        assert g_now > pre_state_gen or name != "state"
        man = read_manifest(td)
        man_target = read_manifest(td, as_of_generation=target_tables[name])
        assert man["files"] == man_target["files"]
        assert man.get("restore", {}).get("restored_from") == target_tables[name]
    # pair invariant AT the rollback version
    state = {
        r["id"]: (r["lsn"], r["email"])
        for r in C.read_table(spark, cd, "state").collect()
    }
    folded = {
        r["id"]: (r["lsn"], r["email"])
        for r in C.read_table(spark, cd, "events_log")
        .groupBy("id")
        .agg(
            F.max_by(F.struct("op_code", "email"), "lsn").alias("last"),
            F.max("lsn").alias("lsn"),
        )
        .filter("last.op_code <> 'd'")
        .select("id", "lsn", F.col("last.email").alias("email"))
        .collect()
    }
    assert state == folded and len(state) > 0

    # redelivery: batch 0/1 skip (no new version), batch 2 re-applies
    v_before = C.current_version(cd)
    for i in (0, 1):
        apply(
            spark.read.schema(ENVELOPE_JSON_SCHEMA).json(
                os.path.join(path, stage_files[i])
            ),
            i,
        )
    assert C.current_version(cd) == v_before, "rewound watermark must skip"
    apply(
        spark.read.schema(ENVELOPE_JSON_SCHEMA).json(
            os.path.join(path, stage_files[2])
        ),
        2,
    )
    assert C.current_version(cd) == v_before + 1

    # refusals: current version, expired target
    with _pytest.raises(ValueError, match="already at version"):
        C.rollback(cd, C.current_version(cd))
    os.unlink(os.path.join(cd, "_versions", f"v-{target}.json"))
    with _pytest.raises(FileNotFoundError):
        C.rollback(cd, target)


def test_t41_event_lake_kill_restart_and_spec_carry(spark, tmp_path, sf_dir):
    """t41 under kill+restart: appended batches replay-skip through the
    watermark, compaction CARRIES the transform spec (dropping it would
    make the transform-pruned read refuse the next generation), a batch
    arriving WITH the physical column is refused, and the final pruned
    window equals the declarative filter."""
    import datetime as dt
    import os
    import time

    import pytest as _pytest
    from pyspark.sql import functions as F  # noqa: N812

    from ez_cdc_spark.sources.manifest import (
        append_hidden_partitioned,
        publish_hidden_partitioned,
        read_manifest,
        read_transform_pruned,
    )
    from ez_cdc_spark.sources.tables import load_table
    from ez_cdc_spark.streaming.cdc import event_lake_append_batch
    from ez_cdc_spark.streaming.replay import EVENTS_JSON_SCHEMA, events_parquet

    path = events_parquet(spark, sf_dir)
    td = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    empty = spark.createDataFrame([], EVENTS_JSON_SCHEMA).select(
        F.col("event_id").cast("bigint").alias("event_id"),
        "event_type",
        "ts",
        F.col("value").cast("decimal(12,2)").alias("value"),
    )
    publish_hidden_partitioned(empty, td, 1, transform=("days", "ts", None))

    def start():
        return (
            spark.readStream.schema(EVENTS_JSON_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(path)
            .writeStream.foreachBatch(
                event_lake_append_batch(td, tag="t41kill", max_files=24)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    deadline = time.time() + 120
    while not q.recentProgress and time.time() < deadline:
        time.sleep(0.2)
    assert q.recentProgress
    stop_and_await(q)
    q2 = start()
    q2.awaitTermination()

    man = read_manifest(td)
    # compaction fired at least once and the spec survived every commit
    assert man["partition_transform"]["kind"] == "days"
    mdir = os.path.join(td, "_manifests")
    compacted = [
        f
        for f in os.listdir(mdir)
        if f.startswith("gen-")
        and "compact" in open(os.path.join(mdir, f)).read()
    ]
    assert compacted, "maintenance never compacted"

    ev = load_table(spark, sf_dir, "events")
    min_ts = ev.agg(F.min("ts")).first()[0]
    lo, hi = min_ts + dt.timedelta(days=1), min_ts + dt.timedelta(days=3)
    got = read_transform_pruned(spark, td, lo, hi).count()
    want = ev.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))).count()
    assert got == want > 0

    # replaying the last committed batch is a watermark no-op
    last_bid = man["txn"]["batch_id"]
    batch = spark.read.schema(EVENTS_JSON_SCHEMA).parquet(path).limit(5)
    event_lake_append_batch(td, tag="t41kill")(batch, last_bid)
    assert read_manifest(td)["generation"] == man["generation"]

    # a batch carrying the physical column is refused (writer drift)
    bad = (
        spark.read.schema(EVENTS_JSON_SCHEMA)
        .parquet(path)
        .limit(1)
        .select(
            F.col("event_id").cast("bigint").alias("event_id"),
            "event_type",
            "ts",
            F.col("value").cast("decimal(12,2)").alias("value"),
            F.lit("2024-01-01").alias("_p_days_ts"),
        )
    )
    with _pytest.raises(ValueError, match="must not carry the derived column"):
        append_hidden_partitioned(bad, td, read_manifest(td)["generation"] + 1)


def test_t48_stream_fed_aggregate_restart_and_replay_idempotence(spark, tmp_path):
    """T48 pins: (a) restart-mid-consume — the decoupled feed consumer
    drains some commits, the producer lands MORE (including a fold), and
    a second availableNow run on the same checkpoint applies exactly the
    new interval's signed deltas (the final aggregate equals the full
    declarative recompute); (b) replay idempotence — re-invoking the
    consumer's foreachBatch with an already-watermarked batch_id is a
    byte-for-byte no-op on the downstream table."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from ez_cdc_spark.sources.manifest import (
        compact_mor,
        merge_mor,
        publish,
        read_committed,
        read_manifest,
    )
    from ez_cdc_spark.sources.pyds import register_ezmanifest
    from ez_cdc_spark.streaming.cdc import stream_feed_agg_batch

    td = tempfile.mkdtemp(prefix="t48_up_")
    ad = tempfile.mkdtemp(prefix="t48_agg_")
    for d, fields in (
        (td, [("id", LongType()), ("lsn", LongType()),
              ("first_name", StringType())]),
        (ad, [("first_name", StringType()), ("n", LongType()),
              ("sum_lsn", LongType())]),
    ):
        shutil.rmtree(d, ignore_errors=True)
        publish(
            spark.createDataFrame(
                [], StructType([StructField(n, t) for n, t in fields])
            ),
            d, 1, stats_columns=[fields[0][0]],
        )

    def batch(rows):
        return spark.createDataFrame(
            rows, "id long, lsn long, first_name string, op string, seq long"
        )

    def drain():
        register_ezmanifest(spark)
        q = (
            spark.readStream.format("ezmanifest")
            .option("path", td)
            .option("changeFeed", "true")
            .load()
            .writeStream.foreachBatch(stream_feed_agg_batch(ad))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(
            tuple(r) for r in read_committed(spark, ad).collect()
        )

    merge_mor(spark, td, batch(
        [(1, 10, "ann", "c", 10), (2, 11, "bob", "c", 11)]), "id", 2)
    assert drain() == [("ann", 1, 10), ("bob", 1, 11)]

    # more producer commits, including a fold mid-interval
    merge_mor(spark, td, batch(
        [(1, 20, "ann", "u", 20), (3, 21, "ann", "c", 21)]), "id", 3)
    compact_mor(spark, td, 4, target_files=1)
    merge_mor(spark, td, batch([(2, 30, None, "d", 30)]), "id", 5)
    got = drain()  # restart on the same checkpoint
    assert got == [("ann", 2, 41)]  # ann: lsn 20+21; bob deleted

    # replay idempotence: re-apply an already-watermarked batch_id
    before = read_manifest(ad)["generation"]
    fake = spark.createDataFrame(
        [("insert", 9, 99, "zed", 5)],
        "_change_type string, id long, lsn long, first_name string, "
        "_commit_generation long",
    )
    last_wm = (read_manifest(ad).get("txns") or {}).get("t48c", {})
    stream_feed_agg_batch(ad)(fake, last_wm["batch_id"])
    assert read_manifest(ad)["generation"] == before  # no-op commit-wise
    assert sorted(tuple(r) for r in read_committed(spark, ad).collect()) == [
        ("ann", 2, 41)
    ]
