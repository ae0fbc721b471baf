"""CDC-core benchmark for ez_cdc_spark.

Drives the engine from outside, through its public entry points only: the
foreachBatch sink factories in ``streaming/cdc.py``, the commit, feed and
read functions in ``sources/manifest.py`` and the ``ezmanifest`` format of
``sources/pyds.py``. Inputs are seeded Debezium envelopes (``gen.py``);
every run checks the engine's output against the pure-Python model.

Usage, from the repository root:

    python3 perfbench/run.py --workload upsert_drain --seed 1 --seconds 16 --trace 0

``--trace 0`` prints the end-to-end metrics of an untraced run. ``--trace
1`` first repeats the untraced timed phase, then runs a second timed phase
with the outside-in tracer installed (``tracer.py``) and prints the
per-layer metrics. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Each run works in a
fresh run root under ``.perfbench_run/``; see README.md for the workloads
and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shlex
import shutil
import signal
import statistics
import sys
import threading
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import tracer as tr  # noqa: E402

WORKLOADS = ("upsert_drain", "lake_serve")

# upsert_drain: sizes and the nominal trigger time that turns --seconds
# into a fixed trigger count
UPSERT_SNAPSHOT_KEYS = 20_000
UPSERT_FILE_ENVELOPES = 20_000
UPSERT_WARMUP_FILES = 5
UPSERT_NOMINAL_TRIGGER_S = 2.3
# a file landing later than this after the previous sink call returned
# makes the run invalid: the benchmark, not the engine, was slow
UPSERT_LATE_MS_MAX = 100.0

# lake_serve: one cycle is this fixed request order; the seed picks keys,
# generations and commit contents. Point lookups are spread through it so
# none always follows a commit
LAKE_COW_KEYS = 50_000
LAKE_MOR_KEYS = 20_000
LAKE_COW_COMMIT_ENVELOPES = 500
LAKE_MOR_COMMIT_ENVELOPES = 1_000
LAKE_APPEND_ROWS = 50
LAKE_SETUP_COW_COMMITS = 1
LAKE_SETUP_MOR_COMMITS = 1
LAKE_CYCLE = (
    "point", "asof", "point", "pyds_read", "point", "point", "feed", "point",
    "asof", "point", "append", "point", "point", "cow_commit", "point",
    "asof", "point", "pyds_read", "point", "mor_commit",
)
LAKE_NOMINAL_CYCLE_S = 20.0

TABLE_FIELDS = (("id", "long"), ("lsn", "long"), ("first_name", "string"),
                ("last_name", "string"), ("email", "string"))
AGG_FIELDS = (("first_name", "string"), ("n", "long"), ("sum_lsn", "long"))


def peak_rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def git_commit() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return "unknown"


def _schema(fields):
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    types = {"long": LongType(), "string": StringType()}
    return StructType([StructField(n, types[t]) for n, t in fields])


def _rows_of(state: dict) -> list[tuple]:
    return [(k, *state[k]) for k in sorted(state)]


def arrow_state(df) -> dict:
    """``id -> (lsn, first_name, last_name, email)`` of a table read."""
    t = df.select("id", "lsn", "first_name", "last_name", "email").toArrow()
    return {r[0]: r[1:] for r in zip(*(t.column(i).to_pylist() for i in range(5)))}


class Run:
    """One benchmark run: isolated run root, Spark session, result."""

    def __init__(self, args):
        self.args = args
        self.nproc = len(os.sched_getaffinity(0))
        self.root = os.path.join(
            os.getcwd(), ".perfbench_run",
            f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}",
        )
        shutil.rmtree(self.root, ignore_errors=True)
        self.work = os.path.join(self.root, "work")
        for d in ("work", "tmp", "local"):
            os.makedirs(os.path.join(self.root, d))
        self.mismatches: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.tracer = None
        self.listener = None
        self.trace_window = None  # (perf_counter start, end) of the traced phase
        self.marks = []  # (label, seconds since process start) of setup steps

    def mark(self, label: str) -> None:
        self.marks.append((label, round(time.perf_counter() - T_PROCESS, 3)))

    def start_spark(self):
        tmp = os.path.join(self.root, "tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.root, "local")
        heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        confs = {
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100",
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            # a heap fixed at its maximum from the start: a growing heap
            # made batch times drift for many batches and differ by run.
            # No hsperfdata file under the system /tmp.
            "spark.driver.extraJavaOptions":
                f"-Xms{heap} -Djava.io.tmpdir={tmp} -Dderby.system.home={self.work} "
                "-XX:-UsePerfData",
        }
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
        ) + " pyspark-shell"
        os.chdir(self.work)
        import tempfile

        tempfile.tempdir = None
        from ez_cdc_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{self.nproc}]")
        self.get_spark_ms = (time.perf_counter() - t0) * 1000.0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.mark("session")

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def check(self, what: str, got, want) -> None:
        if got != want:
            self.mismatches.append(what)
            print(f"MISMATCH {what}: got {str(got)[:200]} want {str(want)[:200]}",
                  file=sys.stderr)

    def start_tracing(self, hooks=None) -> None:
        self.tracer = tr.Tracer(self.spark)
        self.tracer.install(hooks)
        self.trace_window = [time.perf_counter(), None]

    def stop_tracing(self) -> None:
        self.trace_window[1] = time.perf_counter()
        self.tracer.uninstall()

    def span(self, name: str, fn, *args, **attrs):
        """Call ``fn(*args)`` inside a benchmark-side span when tracing."""
        if self.tracer is None or self.trace_window[1] is not None:
            return fn(*args)
        s = self.tracer.begin(name, **attrs)
        try:
            return fn(*args)
        finally:
            self.tracer.end(s)

    def traced_spans(self) -> list:
        lo, hi = self.trace_window
        return [s for s in self.tracer.spans if lo <= s.start and s.end <= hi]


# --------------------------------------------------------------------------
# upsert_drain
# --------------------------------------------------------------------------


def prepare_upsert_drain(run: Run) -> dict:
    """Render every envelope file of the run into the staging dir."""
    args = run.args
    n_timed = max(1, round(args.seconds / UPSERT_NOMINAL_TRIGGER_S))
    phases = ["setup"] * (1 + UPSERT_WARMUP_FILES) + ["timed"] * n_timed
    if args.trace:
        phases += ["traced"] * n_timed
    stream = gen.EnvelopeStream(args.seed, "upsert", UPSERT_SNAPSHOT_KEYS, "recent")
    staging = run.path("staging")
    files = []  # (name, envelopes, distinct keys changed)
    for i, _ in enumerate(phases):
        if i == 0:
            data, touched = stream.snapshot(), set(range(UPSERT_SNAPSHOT_KEYS))
        else:
            data, touched = stream.changes(UPSERT_FILE_ENVELOPES)
        name = f"env-{i:05d}.json"
        with open(os.path.join(staging, name), "wb") as fh:
            fh.write(data)
        files.append((name, data.count(b"\n"), len(touched)))
    return {"phases": phases, "stream": stream, "files": files}


def upsert_drain(run: Run, prep: dict) -> dict:
    """Closed loop over one file stream: the T9 sink ``upsert_batch``
    applies one envelope file per trigger; the next file lands in the
    source dir when the previous sink call returns."""
    from pyspark.sql import functions as F

    from ez_cdc_spark.streaming.cdc import ENVELOPE_JSON_SCHEMA, upsert_batch

    args, spark = run.args, run.spark
    phases, stream, files = prep["phases"], prep["stream"], prep["files"]
    staging, src = run.path("staging"), run.path("source")
    os.makedirs(src)
    state_dir = run.path("state")
    sink = upsert_batch(state_dir)
    ops = {}  # batch id -> (landed, start, end) in perf_counter seconds
    landed = {}  # file index -> (perf_counter, time.time) at landing
    late_ms = []  # how long after the previous sink call each file landed
    done = threading.Event()
    errors = []

    def land(i):
        os.rename(os.path.join(staging, files[i][0]), os.path.join(src, files[i][0]))
        landed[i] = (time.perf_counter(), time.time())

    def on_batch(df, batch_id):
        try:
            if phases[batch_id] == "traced" and run.tracer is None:
                run.start_tracing()
            if run.tracer is not None:
                run.tracer.trace_id = batch_id
            t0 = time.perf_counter()
            run.span("cdc.upsert_batch", sink, df, batch_id, changed=files[batch_id][2])
            ops[batch_id] = (landed[batch_id][0], t0, time.perf_counter())
            if batch_id + 1 < len(phases):
                land(batch_id + 1)
                late_ms.append((landed[batch_id + 1][0] - ops[batch_id][2]) * 1000.0)
            else:
                done.set()
        except BaseException as e:  # the stream dies; main thread reports it
            errors.append(e)
            done.set()
            raise

    if args.trace:
        run.listener = tr.StreamListener(spark)
    env = (spark.readStream.schema(ENVELOPE_JSON_SCHEMA)
           .option("maxFilesPerTrigger", 1).json(src))
    q = (env.writeStream.foreachBatch(on_batch)
         .option("checkpointLocation", run.path("checkpoint")).start())
    land(0)
    while not done.wait(0.2):
        if not q.isActive:
            break
    if run.tracer is not None and run.trace_window[1] is None:
        run.stop_tracing()
    if run.listener is not None:
        run.listener.wait_for(len(phases) - 1)
    q.stop()

    committed = sorted(ops)
    run.attempted += len(phases)
    run.failed += len(phases) - len(committed)
    if errors or len(committed) != len(phases):
        run.mismatches.append(f"stream stopped after {len(committed)} of {len(phases)} files: {errors[:1]}")

    # the file source's checkpoint log must map batch i to file i
    mapping = _file_source_batches(run.path("checkpoint"))
    for b in committed:
        run.check(f"batch {b} files", mapping.get(b), [files[b][0]])

    state = spark.read.parquet(os.path.join(state_dir, "current")).select(
        "id", "lsn", F.col("after.first_name").alias("first_name"),
        F.col("after.last_name").alias("last_name"), F.col("after.email").alias("email"))
    run.check("upsert state", arrow_state(state), stream.state)

    def phase_metrics(phase):
        idx = [i for i, p in enumerate(phases) if p == phase and i in ops]
        if not idx:
            return None
        lat = [(ops[i][2] - ops[i][1]) * 1000.0 for i in idx]
        wall = ops[idx[-1]][2] - ops[idx[0]][0]
        return {
            "idx": idx, "lat": lat, "wall_s": wall,
            "events": sum(files[i][1] for i in idx),
        }

    timed = phase_metrics("timed")
    # late_ms[i - 1] is how late file i landed
    late = max((late_ms[i - 1] for i, p in enumerate(phases) if p != "setup" and i in ops),
               default=0.0)
    if late > UPSERT_LATE_MS_MAX:
        run.mismatches.append(f"invalid run: a file landed {late:.0f} ms late")
    result = {
        "setup_lat": [round((ops[i][2] - ops[i][1]) * 1000.0) for i, p in enumerate(phases)
                      if p == "setup" and i in ops],
        "input_sha256": stream.sha,
        "setup_end": ops[phases.index("timed")][0] if timed else None,
        "timed": timed,
    }
    if args.trace and timed:
        traced = phase_metrics("traced")
        result["traced"] = traced
        result["stream"] = _stream_counters(run, traced["idx"], landed)
        result["late_ms_max"] = max(late_ms[i - 1] for i in traced["idx"])
    return result


def _file_source_batches(checkpoint: str) -> dict:
    """batch id -> sorted file names, from the file source's metadata log."""
    log = os.path.join(checkpoint, "sources", "0")
    out: dict = {}
    for name in os.listdir(log):
        if name.startswith("."):
            continue
        with open(os.path.join(log, name)) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    rec = json.loads(line)
                    out.setdefault(rec["batchId"], set()).add(os.path.basename(rec["path"]))
    return {b: sorted(v) for b, v in out.items()}


def _stream_counters(run: Run, idx: list, landed: dict) -> dict:
    from datetime import datetime

    by_batch = {e["batch_id"]: e for e in run.listener.events}
    trig = add = queue = 0.0
    for b in idx:
        e = by_batch.get(b)
        if e is None:
            run.mismatches.append(f"no progress event for batch {b}")
            continue
        trig += e["duration_ms"].get("triggerExecution", 0)
        add += e["duration_ms"].get("addBatch", 0)
        started = datetime.fromisoformat(e["timestamp"].replace("Z", "+00:00")).timestamp()
        queue += max(0.0, (started - landed[b][1]) * 1000.0)
    return {
        "stream.trigger_ms": trig, "stream.add_batch_ms": add,
        "stream.overhead_ms": trig - add, "stream.queue_ms": queue,
        # closed loop: exactly one file is ever waiting
        "stream.backlog_files_max": 1 if idx else 0,
    }


# --------------------------------------------------------------------------
# lake_serve
# --------------------------------------------------------------------------


def prepare_lake_serve(run: Run) -> dict:
    """Both tables' genesis rows and consumer aggregates as parquet files
    of consecutive keys (one key range per file, so the published files
    have disjoint stats)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    args = run.args
    cow = gen.EnvelopeStream(args.seed, "cow", LAKE_COW_KEYS, "recent")
    mor = gen.EnvelopeStream(args.seed, "mor", LAKE_MOR_KEYS, "uniform")
    cow.snapshot()
    mor.snapshot()
    staging = run.path("staging")
    types = {"long": pa.int64(), "string": pa.string()}

    def write(name, fields, rows, n_files=1):
        path = os.path.join(staging, name)
        os.makedirs(path)
        step = -(-len(rows) // n_files)
        for i in range(n_files):
            cols = list(zip(*rows[i * step:(i + 1) * step]))
            t = pa.table({n: pa.array(c, types[ty]) for (n, ty), c in zip(fields, cols)})
            pq.write_table(t, os.path.join(path, f"part-{i:03d}.parquet"))

    def agg_rows(state):
        return [(k, *v) for k, v in sorted(gen.aggregate(state).items())]

    write("cow", TABLE_FIELDS, _rows_of(cow.state), 16)
    write("cow_agg", AGG_FIELDS, agg_rows(cow.state))
    write("mor", TABLE_FIELDS, _rows_of(mor.state), 8)
    write("mor_agg", AGG_FIELDS, agg_rows(mor.state))
    write("warm", TABLE_FIELDS, _rows_of(cow.state)[:4000], 4)
    return {"cow": cow, "mor": mor}


def lake_serve(run: Run, prep: dict) -> dict:
    """Closed loop, one client: a seeded shuffle of a fixed request mix over
    a copy-on-write table (stats + bloom on ``id``, a change-feed consumer
    aggregate) and a merge-on-read table (with its own consumer)."""
    from pyspark.sql import functions as F

    from ez_cdc_spark.sources import manifest as M
    from ez_cdc_spark.sources.pyds import register_ezmanifest
    from ez_cdc_spark.streaming import cdc

    args, spark = run.args, run.spark
    rng = random.Random(f"{args.seed}:lake_serve")
    cow, mor = prep["cow"], prep["mor"]
    table, agg = run.path("cow"), run.path("cow_agg")
    mtable, magg = run.path("mor"), run.path("mor_agg")
    staging = run.path("staging")

    def staged(name, fields):
        return spark.read.schema(_schema(fields)).parquet(os.path.join(staging, name))

    # genesis: both tables and both consumer aggregates at generation 1
    M.publish(staged("cow", TABLE_FIELDS), table, generation=1,
              stats_columns=["id"], bloom_columns=["id"])
    M.publish(staged("cow_agg", AGG_FIELDS), agg, generation=1, stats_columns=["first_name"])
    M.publish(staged("mor", TABLE_FIELDS), mtable, generation=1, stats_columns=["id"])
    M.publish(staged("mor_agg", AGG_FIELDS), magg, generation=1, stats_columns=["first_name"])
    register_ezmanifest(spark)
    run.mark("genesis")

    # start the format's Python workers on a table of their own while the
    # setup commits run (the first ezmanifest read and write each take
    # seconds to start their workers)
    warm_dir, warm_errors = run.path("warm"), []

    def warm_format():
        try:
            # a new thread has no active session, and the format is looked
            # up through it
            spark._jvm.org.apache.spark.sql.SparkSession.setActiveSession(spark._jsparkSession)
            df = spark.read.format("ezmanifest").option("path", warm_dir)
            df.load().filter(F.col("id") == 1).collect()
            staged("warm", TABLE_FIELDS).limit(10).write.format("ezmanifest") \
                .option("path", warm_dir).mode("append").save()
        except Exception as e:
            warm_errors.append(e)

    M.publish(staged("warm", TABLE_FIELDS), warm_dir, generation=1, stats_columns=["id"])
    warm_thread = threading.Thread(target=warm_format)
    warm_thread.start()
    cow_sink = cdc.lakehouse_feed_fanout_batch(table, agg)
    mor_sink = cdc.lakehouse_mor_fanout_batch(mtable, magg)
    batch_ids = {"cow": 0, "mor": 0}

    def envelope_file(stream, n):
        data, touched = stream.changes(n)
        path = os.path.join(staging, f"{stream.tag}-{stream.n_envelopes}.json")
        with open(path, "wb") as fh:
            fh.write(data)
        return path, len(touched)

    # --- requests -------------------------------------------------------
    def do_point(key, want):
        def read():
            return [tuple(r) for r in M.read_point_lookup(spark, table, "id", key)
                    .filter(F.col("id") == key).collect()]
        run.check(f"point {key}", run.span("manifest.read_point_lookup", read), want)

    def do_pyds_read(key, want):
        def read():
            df = spark.read.format("ezmanifest").option("path", table).load()
            return [tuple(r) for r in df.filter(F.col("id") == key).collect()]
        run.check(f"pyds read {key}", run.span("pyds.read", read), want)

    def do_asof(g, want):
        def read():
            rows = (M.read_committed(spark, table, as_of_generation=g)
                    .groupBy("first_name").agg(F.count("*").alias("n"), F.sum("lsn").alias("s"))
                    .collect())
            return {r["first_name"]: (r["n"], r["s"]) for r in rows}
        run.check(f"as-of {g}", run.span("manifest.read_committed", read), want)

    def do_feed(g1, g2, want):
        def read():
            return M.change_feed(spark, table, g1, g2, key_col="id").count()
        run.check(f"feed {g1}->{g2}", run.span("manifest.change_feed", read), want)

    def do_append(rows):
        df = spark.createDataFrame(rows, _schema(TABLE_FIELDS))
        w = df.write.format("ezmanifest").option("path", table).mode("append")
        run.span("pyds.write", w.save)

    def do_cow_commit(path, changed, want):
        df = spark.read.schema(cdc.ENVELOPE_JSON_SCHEMA).json(path)
        bid = batch_ids["cow"]
        batch_ids["cow"] += 1
        run.span("cdc.lakehouse_feed_fanout_batch", cow_sink, df, bid, changed=changed)
        run.check(f"cow aggregate {bid}", run.span("manifest.read_committed", agg_state, agg), want)

    def do_mor_commit(path, changed, want):
        df = spark.read.schema(cdc.ENVELOPE_JSON_SCHEMA).json(path)
        bid = batch_ids["mor"]
        batch_ids["mor"] += 1
        run.span("cdc.lakehouse_mor_fanout_batch", mor_sink, df, bid, changed=changed)

        def read():
            rows = M.read_mor(spark, mtable).groupBy("first_name").count().collect()
            return {r["first_name"]: r["count"] for r in rows}
        n_deletes = len(M.read_manifest(mtable).get("delete_files") or [])
        run.check(f"mor read {bid}", run.span("manifest.read_mor", read, delete_files=n_deletes), want)

    def agg_state(d):
        return {r["first_name"]: (r["n"], r["sum_lsn"])
                for r in M.read_committed(spark, d).collect()}

    def mor_counts():
        return {k: v[0] for k, v in gen.aggregate(mor.state).items()}

    def point_want(state, key):
        return [(key, *state[key])] if key in state else []

    # --- setup: commits that build the as-of generations, then one of each
    # read so every path is warm before timing
    snapshots = [(1, dict(cow.state))]
    for _ in range(LAKE_SETUP_COW_COMMITS):
        do_cow_commit(*envelope_file(cow, LAKE_COW_COMMIT_ENVELOPES), gen.aggregate(cow.state))
        # the merge generation and a compaction after it hold the same rows
        for g in range(snapshots[-1][0] + 1, M.read_manifest(table)["generation"] + 1):
            snapshots.append((g, dict(cow.state)))
    for _ in range(LAKE_SETUP_MOR_COMMITS):
        path, changed = envelope_file(mor, LAKE_MOR_COMMIT_ENVELOPES)
        do_mor_commit(path, changed, mor_counts())
    warm_thread.join()
    if warm_errors:
        raise warm_errors[0]
    run.mark("setup commits")
    asof = [(g, gen.aggregate(s)) for g, s in snapshots]
    feeds = []
    for i, (g1, s1) in enumerate(snapshots):
        for g2, s2 in snapshots[i + 1:]:
            n = sum(1 for k in s2 if k not in s1) + sum(1 for k in s1 if k not in s2)
            n += 2 * sum(1 for k in s1 if k in s2 and s1[k] != s2[k])
            feeds.append((g1, g2, n))
    del snapshots

    def plan(cycles):
        """The request list with every expected answer, from the model.
        ``cycles`` is a list of request-kind lists."""
        reqs = []
        for slots in cycles:
            for kind in slots:
                if kind in ("point", "pyds_read"):
                    if rng.random() < 0.8:
                        key = rng.choice(list(cow.state))
                    else:
                        key = rng.randrange(cow.next_key)
                    reqs.append((kind, key, point_want(cow.state, key)))
                elif kind == "asof":
                    reqs.append((kind, *rng.choice(asof)))
                elif kind == "feed":
                    reqs.append((kind, *rng.choice(feeds)))
                elif kind == "append":
                    reqs.append((kind, cow.new_rows(LAKE_APPEND_ROWS)))
                elif kind == "cow_commit":
                    path, changed = envelope_file(cow, LAKE_COW_COMMIT_ENVELOPES)
                    reqs.append((kind, path, changed, gen.aggregate(cow.state)))
                else:
                    path, changed = envelope_file(mor, LAKE_MOR_COMMIT_ENVELOPES)
                    reqs.append((kind, path, changed, mor_counts()))
        return reqs

    handlers = {
        "point": do_point, "pyds_read": do_pyds_read, "asof": do_asof,
        "feed": do_feed, "append": do_append, "cow_commit": do_cow_commit,
        "mor_commit": do_mor_commit,
    }
    rows_written = {"append": LAKE_APPEND_ROWS, "cow_commit": LAKE_COW_COMMIT_ENVELOPES,
                    "mor_commit": LAKE_MOR_COMMIT_ENVELOPES}

    def execute(reqs, counted=True):
        lat, kinds, t0 = [], [], time.perf_counter()
        for i, (kind, *params) in enumerate(reqs):
            if run.tracer is not None:
                run.tracer.trace_id = i
            if counted:
                run.attempted += 1
            s = time.perf_counter()
            try:
                handlers[kind](*params)
            except Exception as e:  # a failed request counts, the loop goes on
                if counted:
                    run.failed += 1
                run.mismatches.append(f"{kind} raised {type(e).__name__}: {e}"[:300])
            lat.append((time.perf_counter() - s) * 1000.0)
            kinds.append(kind)
        wall = time.perf_counter() - t0
        events = sum(rows_written.get(k, 0) for k in kinds)
        p50_lat = [x for k, x in zip(kinds, lat) if k == "point"]
        return {"lat": lat, "kinds": kinds, "wall_s": wall, "events": events, "p50_lat": p50_lat}

    # warm every request type once (the first ezmanifest read starts the
    # Python workers), then time whole cycles
    warm = execute(plan([["point", "pyds_read", "asof", "feed", "append"]]), counted=False)
    run.mark("warm reads")
    cycles = [LAKE_CYCLE] * max(1, round(args.seconds / LAKE_NOMINAL_CYCLE_S))
    setup_end = time.perf_counter()
    timed = execute(plan(cycles))
    result = {"setup_end": setup_end, "timed": timed,
              "setup_lat": [round(x) for x in warm["lat"]]}
    if args.trace:
        reqs = plan(cycles)

        def hook_merge_cow(spark_, table_dir, *a, **k):
            parent = set(M.read_manifest(table_dir)["files"])

            def after(manifest, attrs):
                files = manifest["files"]
                attrs["carried_ratio"] = sum(f in parent for f in files) / max(1, len(files))
            return {"table": table_dir}, after

        run.start_tracing({"manifest.merge_cow": hook_merge_cow})
        result["traced"] = execute(reqs)

    # post-drain reclaim, as materialize_feed_consumer does, then the checks
    # (the COW aggregate is checked after every COW commit: appends after
    # the last one reach it only at the next consumer step)
    for d in (table, mtable):
        M.gc(d, older_than_s=0.0)
        M.vacuum(d, older_than_s=0.0)
    if run.tracer is not None:
        run.stop_tracing()
    result["space_amp"] = _space_amp([table, mtable])

    run.check("cow table", arrow_state(M.read_committed(spark, table)), cow.state)
    run.check("mor table", arrow_state(M.read_mor(spark, mtable)), mor.state)
    run.check("mor aggregate", agg_state(magg), gen.aggregate(mor.state))
    result["input_sha256"] = f"{cow.sha}:{mor.sha}"
    return result


def _space_amp(table_dirs: list) -> float:
    """Bytes on disk under the table dirs over bytes of the data and
    delete files their current manifests reference."""
    from ez_cdc_spark.sources.manifest import read_manifest

    on_disk = live = 0
    for table_dir in table_dirs:
        for dirpath, _, names in os.walk(table_dir):
            on_disk += sum(os.path.getsize(os.path.join(dirpath, n)) for n in names)
        man = read_manifest(table_dir)
        live += sum(os.path.getsize(os.path.join(table_dir, rel))
                    for rel in (*man["files"], *(man.get("delete_files") or [])))
    return on_disk / live


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------


def end_to_end(run: Run, res: dict) -> dict:
    t = res["timed"]
    return {
        "setup_s": (res["setup_end"] - T_PROCESS, "s"),
        "events_per_s": (t["events"] / t["wall_s"], "1/s"),
        "op_ms_p50": (statistics.median(t.get("p50_lat", t["lat"])), "ms"),
    }


def per_layer(run: Run, res: dict) -> tuple[dict, dict]:
    spans = run.traced_spans()
    counters = res["counters"] = run.tracer.spark_counters()
    m = tr.layer_metrics(spans, counters)
    by_id = {s.id: s for s in spans}

    def rewritten_per_change(name, keep=lambda s: True):
        rows = changed = 0
        for s in spans:
            if s.name != name or not keep(s):
                continue
            # rows the span wrote, its nested spans included
            stack, sub = [s.id], 0
            while stack:
                sid = stack.pop()
                sub += counters[sid]["output_rows"]
                stack += [c.id for c in spans if c.parent == sid]
            rows += sub
            changed += (s.attrs.get("changed") or by_id.get(s.parent, s).attrs.get("changed") or 0)
        return rows / changed if changed else 0.0

    upstream = [s for s in spans if s.name == "manifest.merge_cow"
                and by_id.get(s.parent) is not None
                and by_id[s.parent].name == "cdc.lakehouse_feed_fanout_batch"]
    carried = [s.attrs.get("carried_ratio", 0.0) for s in upstream]
    deletes = [s.attrs["delete_files"] for s in spans if s.name == "manifest.read_mor"
               and "delete_files" in s.attrs]
    traced, timed = res["traced"], res["timed"]
    m.update({
        "cdc.upsert_batch.rows_rewritten_per_change": rewritten_per_change("cdc.upsert_batch"),
        "manifest.merge_cow.rows_rewritten_per_change": rewritten_per_change(
            "manifest.merge_cow", lambda s: s in upstream),
        "manifest.merge_cow.files_carried_ratio": statistics.mean(carried) if carried else 0.0,
        "manifest.read_mor.delete_files": statistics.mean(deletes) if deletes else 0.0,
        "lake.space_amp": res.get("space_amp", 0.0),
        "session.get_spark_ms": run.get_spark_ms,
        "gen.late_ms_max": res.get("late_ms_max", 0.0),
        "trace.overhead_pct": (traced["wall_s"] / timed["wall_s"] - 1.0) * 100.0,
    })
    m.update(res.get("stream") or {f"stream.{k}": 0.0 for k in tr.STREAM_COUNTERS})
    checks = {}
    trig = m["stream.trigger_ms"]
    if trig:
        top = sum(s.wall_ms for s in spans if s.parent is None)
        checks["span_cover_pct"] = 100.0 * (top + m["stream.overhead_ms"]) / trig
        checks["trigger_fill_pct"] = 100.0 * trig / (traced["wall_s"] * 1000.0)
    return m, checks


def layer_unit(name: str) -> str:
    last = name.rsplit(".", 1)[1]
    if last.endswith(("_ms", "_ms_max")):
        return "ms"
    if last.endswith("_mb"):
        return "MB"
    if last.endswith("_pct"):
        return "%"
    if last in ("jobs", "calls", "tasks", "backlog_files_max", "delete_files"):
        return "count"
    return "ratio"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ez_cdc_spark", "streaming", "cdc.py")):
        print("perfbench: ez_cdc_spark/ not found next to perfbench/; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    # a terminated run still stops Spark and removes its work dirs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args)
    load_start = os.getloadavg()
    workload = {"upsert_drain": (prepare_upsert_drain, upsert_drain),
                "lake_serve": (prepare_lake_serve, lake_serve)}[args.workload]
    # inputs are generated while the JVM starts
    prep, prep_error = {}, []

    def prepare():
        try:
            prep.update(workload[0](run))
        except BaseException as e:
            prep_error.append(e)

    os.makedirs(run.path("staging"))
    worker = threading.Thread(target=prepare)
    worker.start()
    run.start_spark()
    worker.join()
    run.mark("inputs")
    try:
        if prep_error:
            raise prep_error[0]
        res = workload[1](run, prep)
        out = {"correct": not run.mismatches, "attempted": run.attempted,
               "failed": run.failed}
        if args.trace:
            metrics, res["checks"] = per_layer(run, res)
            metrics = {k: {"value": float(metrics[k]), "unit": layer_unit(k)}
                       for k in tr.per_layer_names()}
        else:
            metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in end_to_end(run, res).items()}
        out["metrics"] = metrics
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "commit": git_commit(), "nproc": run.nproc,
            "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "rss_peak_mb": peak_rss_mb([run.jvm_pid, os.getpid()]),
            "input_sha256": res.get("input_sha256"), "mismatches": run.mismatches,
            "timed_latencies_ms": res["timed"]["lat"], "timed_kinds": res["timed"].get("kinds"),
            "setup_latencies_ms": res.get("setup_lat"), "setup_marks": run.marks,
            "checks": res.get("checks"),
            "result": out,
        }
        with open(os.path.join(run.root, "result.json"), "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)
        if run.tracer is not None:
            run.tracer.dump(os.path.join(run.root, "spans.jsonl"), res["counters"])
    finally:
        gateway = run.spark.sparkContext._gateway
        run.spark.stop()
        # end the JVM (and the Python workers it started) before exiting
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        shutil.rmtree(run.work, ignore_errors=True)
        shutil.rmtree(os.path.join(run.root, "local"), ignore_errors=True)
        shutil.rmtree(os.path.join(run.root, "tmp"), ignore_errors=True)
    print(json.dumps(out))
    return 0 if out["correct"] and out["failed"] == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
