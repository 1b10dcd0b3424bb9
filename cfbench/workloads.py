"""The benchmark's workloads and the measurements taken around them.

`flagship` runs the batch chain of `main.py --checkpoint-dir --out
--export-otlp` as a closed loop: one job at a time, like the reference's
one invocation per S3 notification. `arrivals` runs the `main.py --stream`
default, `run_streaming_pipeline_single_pass` with availableNow, as an open
loop: a generator thread lands log objects on a fixed schedule and the
benchmark drains whenever one is waiting.

Every timed operation is checked against the DuckDB oracle; an exception or
a mismatch counts as a failed operation. Operation counts are fixed by
`--seconds`, never by a clock, so two runs do the same work.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
import statistics
import subprocess
import threading
import time
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import inputs
import oracle
import otlp_wire
from metric_configs import FLAGSHIP
from tracing import SparkEvents, Tracer, log_conf

# flagship: rows per job; a run makes round(seconds / FLAGSHIP_OP_S) timed
# jobs, at least one (two at 15 s; a job takes about 10 s on 4 vCPUs)
FLAGSHIP_ROWS = 60_000
FLAGSHIP_OP_S = 7
# the untimed settling job runs the whole chain on a smaller input: the cold
# cost is compiling its plans, whatever the row count (18 s here vs 26 s)
SETTLE_ROWS = 5_000
# arrivals: rows per landed object, the landing interval and the untimed
# drains before timing starts; a run lands round(seconds / interval) + 1.
# A drain of one object takes 2.3-3.2 s on a quiet 4-vCPU host and up to
# 4.8 s under 10% steal; the interval keeps that from building a backlog.
ARRIVAL_ROWS = 5_000
ARRIVAL_INTERVAL_S = 5.0
ARRIVAL_SETTLE = 3
# object k covers [k * STEP, k * STEP + SPAN) seconds after the base time,
# so each object's minutes overlap windows that earlier objects touched
ARRIVAL_STEP_S = 120
ARRIVAL_SPAN_S = 300
# the traced run runs this many operations (objects for arrivals) traced and
# then again untraced, plus one flagship-shaped job of SPEEDUP_ROWS rows at
# full parallelism and at local[1]
TRACED_OPS = 1
TRACED_OBJECTS = 3
SPEEDUP_ROWS = 20_000


@dataclass
class Outcome:
    metrics: dict[str, float | None]
    attempted: int
    failed: int
    errors: list[str]
    detail: dict


@dataclass
class Op:
    """One timed operation: its wall time, steal share and check result."""

    seconds: float
    steal: float
    errors: list[str]
    info: dict = field(default_factory=dict)


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _steal(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        return next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM"))


def tail(values: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it, or the
    maximum when a run has fewer than eleven samples."""
    v = sorted(values)
    if len(v) < 11:
        return {"value": v[-1], "percentile": f"max of {len(v)}"}
    return {"value": v[-11], "percentile": f"p{100 * (len(v) - 10) / len(v):.0f} of {len(v)}"}


class Receiver:
    """Loopback OTLP/HTTP receiver that keeps every request body."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.bodies: list[bytes] = []
        self.wire_bytes = 0
        rec = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self) -> None:  # noqa: N802 - http.server API
                raw = self.rfile.read(int(self.headers["Content-Length"]))
                body = gzip.decompress(raw) if self.headers.get(
                    "Content-Encoding") == "gzip" else raw
                with rec.lock:
                    rec.bodies.append(body)
                    rec.wire_bytes += len(raw)
                self.send_response(200)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def log_message(self, *args) -> None:
                pass

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    @property
    def endpoint(self) -> str:
        return f"http://127.0.0.1:{self.server.server_address[1]}"

    def take(self) -> tuple[list[bytes], int]:
        with self.lock:
            out = self.bodies, self.wire_bytes
            self.bodies, self.wire_bytes = [], 0
        return out

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.thread.join(10)


class Bench:
    """State of one benchmark run: seed, sizes, tracer and set-up clock."""

    def __init__(self, seed: int, seconds: int, trace: bool, t_proc: float,
                 cache_dir: str, run_dir: str) -> None:
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.t_proc = t_proc
        self.cache_dir = cache_dir
        self.run_dir = run_dir
        self.tracer = Tracer()
        self.excluded_s = 0.0
        self.setup_s: float | None = None
        self.session_start_s: float | None = None
        self.spark = None
        self.jvm_pid: int | None = None
        self.java = ""

    def prep(self, fn, *args, **kwargs):
        """Input generation and oracle work: run, but not counted as set-up."""
        t = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            self.excluded_s += time.time() - t

    def start_session(self, master: str | None = None, extra: dict | None = None):
        from cflog2otel_spark.session import get_spark

        t = time.time()
        self.spark = self.tracer.call("get_spark", get_spark, master=master, extra=extra)
        if self.session_start_s is None:
            self.session_start_s = time.time() - t
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid
        self.java = self.spark.sparkContext._jvm.System.getProperty("java.version")
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session and the JVM behind it, and wait for the JVM to
        exit; it exits when its stdin pipe from this process closes."""
        from pyspark import SparkContext

        self.stop_session()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()

    def setup_done(self) -> None:
        self.setup_s = time.time() - self.t_proc - self.excluded_s

    def peak_rss_mb(self) -> float:
        kb = _vm_hwm_kb("self")
        if self.jvm_pid is not None:
            kb += _vm_hwm_kb(self.jvm_pid)
        return kb / 1024.0

    def host(self) -> dict:
        import pyspark

        return {"spark": pyspark.__version__, "java": self.java}

    def trace_program(self) -> list[str]:
        """Route the lazy plan builders through spans; returns those the
        program no longer has."""
        from cflog2otel_spark import pipeline
        from cflog2otel_spark.streaming import stream

        missing = []
        for mod, name in ((pipeline, "decode_and_parse"), (pipeline, "enrich"),
                          (pipeline, "aggregate_metric"), (stream, "decode_and_parse"),
                          (stream, "enrich")):
            if not self.tracer.wrap(mod, name, name):
                missing.append(f"{mod.__name__}.{name}")
        return missing


def compile_config(spark, cfg_json: dict):
    """What `main.py` does first on every invocation."""
    from cflog2otel_spark.config import Config

    cfg = Config.from_json(cfg_json)
    cfg.validate_expressions(spark)
    return cfg


def timed(fn, *args) -> Op:
    c0, t0 = _cpu_ticks(), time.time()
    errors: list[str] = []
    info = {}
    try:
        info = fn(*args) or {}
    except Exception as exc:  # a failed operation is reported, not fatal
        errors.append(f"{type(exc).__name__}: {exc}")
    return Op(time.time() - t0, _steal(c0, _cpu_ticks()), errors, info)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


# ------------------------------------------------------------------ flagship


def _flagship_job(b: Bench, path: str, out: str, endpoint: str) -> dict:
    from cflog2otel_spark.export import export_otlp_http
    from cflog2otel_spark.golden import encode_otlp
    from cflog2otel_spark.lineage import write_run_manifest
    from cflog2otel_spark.pipeline import run_pipeline, write_sinks
    from cflog2otel_spark.sources.tokenized import read_tokenized

    tr, spark = b.tracer, b.spark
    cfg = tr.call("config.compile", compile_config, spark, FLAGSHIP)
    tok = tr.call("read_tokenized", read_tokenized, spark, path)
    res = tr.call("run_pipeline", run_pipeline, spark, cfg, tok)
    total = tr.call("write_run_manifest", write_run_manifest, spark, res,
                    os.path.join(out, "manifest"), input_path=path)
    tr.call("write_sinks", write_sinks, res, os.path.join(out, "sinks"))
    reqs = tr.call("encode_otlp", encode_otlp, res, cfg)
    sent = tr.call("export_otlp_http", export_otlp_http, reqs, endpoint,
                   gzip=True, encoding="protobuf")
    res.unpersist()
    return {"rows": total, "requests": sent}


def _check_flagship(out: str, expected: dict, src_rows: dict, n_rows: int,
                    bodies: list[bytes], info: dict) -> list[str]:
    errs: list[str] = []
    got, files = oracle.sink_points(os.path.join(out, "sinks"), deltas=False)
    info["files"] = files
    errs += oracle.diff(expected, got, "sinks")
    mdir = os.path.join(out, "manifest")
    names = [n for n in os.listdir(mdir) if n.endswith(".json")]
    if len(names) != 1:
        errs.append(f"manifest: expected one manifest, found {names}")
    else:
        with open(os.path.join(mdir, names[0])) as fh:
            m = json.load(fh)
        rows = {s: v["rows"] for s, v in m["sources"].items()}
        if rows != src_rows:
            errs.append(f"manifest: per-source rows differ on "
                        f"{len(set(rows.items()) ^ set(src_rows.items()))} entries")
        per_metric: dict[str, int] = {}
        for k in expected:
            per_metric[k[0]] = per_metric.get(k[0], 0) + 1
        if m["sink_rows"] != per_metric:
            errs.append(f"manifest: sink_rows {m['sink_rows']} != {per_metric}")
    if info.get("rows") != n_rows:
        errs.append(f"manifest: returned {info.get('rows')} rows, want {n_rows}")
    points: dict = {}
    try:
        for body in bodies:
            for k, v in otlp_wire.data_points(body).items():
                if k in points:
                    raise ValueError(f"data point {k} sent twice")
                points[k] = v
    except ValueError as exc:
        errs.append(f"otlp: {exc}")
    want = {(k[0], k[1], k[2] * 10**9, k[3] * 10**9, k[4]): v for k, v in expected.items()}
    errs += oracle.diff(want, points, "otlp")
    return errs


def _expect(inp: inputs.InputSet) -> tuple[dict, dict]:
    con = oracle.connect([inp.lines])
    try:
        return oracle.expected_points(con, FLAGSHIP), oracle.source_rows(con)
    finally:
        con.close()


def flagship(b: Bench) -> Outcome:
    inp = b.prep(inputs.cached_input, b.cache_dir, "flagship", b.seed, FLAGSHIP_ROWS)
    small = b.prep(inputs.cached_input, b.cache_dir, "settle", b.seed, SETTLE_ROWS)
    main_data = (inp, *b.prep(_expect, inp))
    settle_data = (small, *b.prep(_expect, small))
    n_ops = max(1, round(b.seconds / FLAGSHIP_OP_S))
    rec = Receiver()
    errors: list[str] = []

    def job(tag: str, data=main_data) -> Op:
        inp, expected, src_rows = data
        out = os.path.join(b.run_dir, tag)
        rec.take()
        op = timed(b.tracer.call, "flagship_job", _flagship_job, b, inp.parquet, out,
                   rec.endpoint)
        bodies, wire = rec.take()
        op.info.update(requests_received=len(bodies), export_bytes=wire)
        if not op.errors:
            try:
                op.errors += _check_flagship(out, expected, src_rows, inp.rows,
                                             bodies, op.info)
            except Exception as exc:
                op.errors.append(f"check: {type(exc).__name__}: {exc}")
        shutil.rmtree(out, ignore_errors=True)
        return op

    try:
        b.start_session()
        settle = job("settle", settle_data)
        errors += [f"settle: {e}" for e in settle.errors]
        b.setup_done()
        # a traced run measures layers only; its end-to-end operations are
        # the untraced run's
        ops = [] if b.trace else [job(f"op{i}") for i in range(n_ops)]
        layers: dict = {}
        if b.trace:
            layers = _traced_flagship(b, job, inp, len(main_data[1]))
        host = b.host()
    finally:
        rec.close()
        b.stop_session()
    return _outcome(b, ops, errors, inp.rows, inp.digest, host, layers,
                    latencies=[o.seconds for o in ops], settle=[settle])


def _traced_flagship(b: Bench, job, inp, n_points: int) -> dict:
    ops, m = _traced_phases(b, lambda: [job(f"traced{i}") for i in range(TRACED_OPS)],
                            lambda: [job("again")], inp.parquet)
    m.update({
        "aggregate.datapoints": float(n_points),
        "sinks.files": _median([o.info.get("files", 0) for o in ops]),
        "export.bytes": _median([o.info.get("export_bytes", 0) for o in ops]),
        "export.requests": _median([o.info.get("requests_received", 0) for o in ops]),
        "stream.drain_s": 0.0, "stream.planning_s": 0.0, "stream.add_batch_s": 0.0,
        "stream.commit_s": 0.0, "stream.batches": 0.0,
        "load.generator_late_s": 0.0,
    })
    return m


# ------------------------------------------------------------------ arrivals


class Arrivals:
    """Log objects landing in one input directory, drained by the
    single-pass streaming entry point onto one checkpoint."""

    def __init__(self, b: Bench, tag: str, n_files: int) -> None:
        self.b = b
        base = os.path.join(b.run_dir, tag)
        self.in_dir = os.path.join(base, "in")
        self.out_dir = os.path.join(base, "out")
        self.ck_dir = os.path.join(base, "ck")
        self.staging = os.path.join(b.cache_dir, f"arrivals-s{b.seed}-n{ARRIVAL_ROWS}")
        os.makedirs(self.in_dir)
        os.makedirs(self.staging, exist_ok=True)
        self.files = [b.prep(self._make, k) for k in range(n_files)]
        self.digest = b.prep(inputs.digest, [f + ".tsv.gz" for f in self.files])

    def _make(self, k: int) -> str:
        path = os.path.join(self.staging, f"obj{k:04d}")
        if not os.path.exists(path + ".tsv.gz"):
            lines, sources = inputs.make_lines(
                self.b.seed, ARRIVAL_ROWS,
                inputs.BASE_EPOCH + k * ARRIVAL_STEP_S, ARRIVAL_SPAN_S, file_key=k,
            )
            inputs.write_input(path, lines, sources, f"arrivals-{self.b.seed}-{k}")
        return path

    def land(self, k: int) -> None:
        """Publish object k atomically; the file source skips dot files."""
        tmp = os.path.join(self.in_dir, f".part-{k:05d}.parquet.tmp")
        shutil.copyfile(self.files[k] + ".parquet", tmp)
        os.rename(tmp, os.path.join(self.in_dir, f"part-{k:05d}.parquet"))

    def drain(self) -> list[dict]:
        """One `main.py --stream` invocation; returns the progress of every
        micro-batch it ran."""
        from cflog2otel_spark.streaming.stream import run_streaming_pipeline_single_pass

        tr, spark = self.b.tracer, self.b.spark

        def run() -> list:
            cfg = tr.call("config.compile", compile_config, spark, FLAGSHIP)
            queries = tr.call("run_streaming_pipeline_single_pass",
                              run_streaming_pipeline_single_pass, spark, cfg,
                              self.in_dir, self.out_dir, self.ck_dir)
            for q in queries:
                q.awaitTermination()
            return queries

        queries = tr.call("drain", run)
        return [json.loads(p.json) if hasattr(p, "json") else dict(p)
                for q in queries for p in q.recentProgress]


@dataclass
class Drain:
    op: Op
    files: list[int]
    batches: list[int]
    progress: list[dict]


def _drain_op(a: Arrivals, first: int, last_allowed: int) -> Drain:
    op = timed(lambda: {"progress": a.drain()})
    progress = op.info.pop("progress", [])
    rows = sum(p.get("numInputRows", 0) for p in progress)
    k, rem = divmod(rows, ARRIVAL_ROWS)
    if rem or k == 0 or first + k > last_allowed:
        op.errors.append(f"drain read {rows} rows, not a whole number of the "
                         f"{last_allowed - first} waiting objects")
        k = max(0, min(k, last_allowed - first))
    return Drain(op, list(range(first, first + k)),
                 [int(p["batchId"]) for p in progress], progress)


def _open_loop(a: Arrivals, first: int, count: int) -> tuple[list[Drain], list[float], float]:
    """Land objects first..first+count-1 every ARRIVAL_INTERVAL_S from a
    generator thread, draining whenever one is waiting. Returns the drains,
    each object's latency from its scheduled landing to the commit of the
    drain that read it, and how late the generator ran at worst."""
    t0 = time.time() + 0.05
    sched = [t0 + j * ARRIVAL_INTERVAL_S for j in range(count)]
    late = [0.0] * count
    landed = [0]
    cond = threading.Condition()

    def generator() -> None:
        for j in range(count):
            delay = sched[j] - time.time()
            if delay > 0:
                time.sleep(delay)
            a.land(first + j)
            late[j] = time.time() - sched[j]
            with cond:
                landed[0] += 1
                cond.notify()

    gen = threading.Thread(target=generator, name="arrivals-generator")
    gen.start()
    drains: list[Drain] = []
    latency: list[float] = []
    done = 0
    try:
        while done < count and len(drains) < 3 * count:
            with cond:
                if not cond.wait_for(lambda: landed[0] > done,
                                     timeout=4 * ARRIVAL_INTERVAL_S):
                    raise RuntimeError(f"generator stopped after {landed[0]} objects")
            d = _drain_op(a, first + done, first + count)
            t_commit = time.time()
            latency += [t_commit - sched[f - first] for f in d.files]
            drains.append(d)
            done += len(d.files)
    finally:
        gen.join()
    return drains, latency, max(late)


def _check_drains(a: Arrivals, drains: list[Drain], settled: list[Drain]) -> None:
    """Each drain's `_batch_id` deltas must equal the oracle over the objects
    it read, and all deltas so far, summed per key, the oracle over every
    object read so far."""
    seen: list[int] = [f for d in settled for f in d.files]
    con = oracle.connect([a.files[f] + ".tsv.gz" for f in range(len(a.files))])
    try:
        for d in drains:
            seen += d.files
            if d.op.errors:
                continue
            try:
                want = oracle.expected_points(con, FLAGSHIP, d.files)
                got, files = oracle.sink_points(a.out_dir, deltas=True,
                                                batches=set(d.batches))
                d.op.info.update(datapoints=len(got), files=files)
                d.op.errors += oracle.diff(want, got, f"drain of objects {d.files}")
                want = oracle.expected_points(con, FLAGSHIP, seen)
                upto = set(range(max(d.batches) + 1))
                got, _ = oracle.sink_points(a.out_dir, deltas=True, batches=upto)
                d.op.errors += oracle.diff(want, got,
                                           f"deltas summed through batch {max(upto)}")
            except Exception as exc:
                d.op.errors.append(f"check: {type(exc).__name__}: {exc}")
    finally:
        con.close()


def _arrivals_phase(b: Bench, tag: str, settle: int, count: int):
    a = Arrivals(b, tag, settle + count)
    settled = []
    for k in range(settle):
        a.land(k)
        settled.append(_drain_op(a, k, k + 1))
    return a, settled


def arrivals(b: Bench) -> Outcome:
    count = max(2, round(b.seconds / ARRIVAL_INTERVAL_S) + 1)
    errors: list[str] = []
    try:
        b.start_session()
        a, settled = _arrivals_phase(b, "untraced", ARRIVAL_SETTLE, count)
        b.setup_done()
        drains, latency, late = [], [], 0.0
        if not b.trace:
            drains, latency, late = _open_loop(a, ARRIVAL_SETTLE, count)
        _check_drains(a, drains, settled)
        errors += [f"settle: {e}" for d in settled for e in d.op.errors]
        layers: dict = {}
        if b.trace:
            layers = _traced_arrivals(b)
        host = b.host()
    finally:
        b.stop_session()
    ops = [d.op for d in drains]
    rows = sum(len(d.files) for d in drains) * ARRIVAL_ROWS
    out = _outcome(b, ops, errors, rows, a.digest, host, layers, latencies=latency,
                   settle=[d.op for d in settled])
    out.detail["inputs"].update(objects=ARRIVAL_SETTLE + count, rows_per_object=ARRIVAL_ROWS,
                                interval_s=ARRIVAL_INTERVAL_S)
    out.detail["drains"] = [{"objects": d.files, "batches": d.batches,
                             "s": round(d.op.seconds, 4)} for d in drains]
    out.detail["generator_late_s"] = late
    return out


def _traced_arrivals(b: Bench) -> dict:
    runs: dict[str, tuple[Arrivals, list[Drain], float]] = {}

    def loop(tag: str) -> list[Op]:
        a, settled = _arrivals_phase(b, tag, 1, TRACED_OBJECTS)
        drains, _, late = _open_loop(a, 1, TRACED_OBJECTS)
        _check_drains(a, drains, settled)
        runs[tag] = (a, drains, late)
        return [d.op for d in drains]

    _, m = _traced_phases(b, lambda: loop("traced"), lambda: loop("again"),
                          lambda: runs["traced"][0].in_dir)
    _, drains, late = runs["traced"]
    # per-object drains only: a backlog drain reads several objects
    single = [d for d in drains if len(d.files) == 1]
    dur = [p.get("durationMs", {}) for d in single for p in d.progress]
    m.update({
        "aggregate.datapoints": _median([d.op.info.get("datapoints", 0) for d in drains]),
        "sinks.files": _median([d.op.info.get("files", 0) for d in drains]),
        "export.bytes": 0.0, "export.requests": 0.0,
        "stream.drain_s": _median([d.op.seconds for d in single]),
        "stream.planning_s": _median([x.get("queryPlanning", 0) / 1000 for x in dur]),
        "stream.add_batch_s": _median([x.get("addBatch", 0) / 1000 for x in dur]),
        "stream.commit_s": _median([(x.get("walCommit", 0) + x.get("commitOffsets", 0))
                                    / 1000 for x in dur]),
        "stream.batches": float(sum(len(d.progress) for d in drains)),
        "load.generator_late_s": late,
    })
    return m


# ------------------------------------------------------------ traced layers


def _traced_phases(b: Bench, traced, again, path) -> tuple[list[Op], dict]:
    """The traced part of a run, after the untraced operations:

    1. a session with Spark's event log and spans on: `traced()`, then the
       layer prefixes over the input at `path` (a path or a callable);
    2. a session without them: `again()`, the same operations untraced and
       as warm, for the tracing overhead, then the single-thread baseline
       job at full parallelism;
    3. a `local[1]` session: the baseline job again.

    Returns the traced operations and the per-layer metrics."""
    b.stop_session()
    logdir = os.path.join(b.run_dir, "eventlog")
    b.start_session(extra=log_conf(logdir))
    missing = b.trace_program()
    b.tracer.enabled = True
    t0 = time.time()
    ops = traced()
    t1 = time.time()
    prefix, windows = _layer_prefixes(b, path() if callable(path) else path)
    b.tracer.enabled = False
    b.stop_session()
    ev = SparkEvents.load(logdir)
    b.start_session()
    untraced = again()
    t_n = _speedup_job(b)
    b.stop_session()
    b.start_session(master="local[1]")
    t_1 = _speedup_job(b)
    b.stop_session()

    op_windows = [(s.start, s.end) for s in b.tracer.spans
                  if s.name in ("flagship_job", "drain") and t0 <= s.start <= t1]
    m = _span_layers(b, ev, op_windows, len(FLAGSHIP["metrics"]), t0, t1)
    m.update(prefix)
    m.update(_prefix_counters(ev, windows))
    m.update({
        "spark.speedup_1core": t_1 / t_n,
        "trace.overhead_frac": _overhead(ops, untraced),
        "missing": missing,
        "extra_ops": ops + untraced,
    })
    return ops, m


def _overhead(traced: list[Op], untraced: list[Op]) -> float | None:
    if not traced or not untraced:
        return None
    return _median([o.seconds for o in traced]) / _median([o.seconds for o in untraced]) - 1


def _noop_s(df) -> float:
    t = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t


def _layer_prefixes(b: Bench, path: str) -> tuple[dict, dict]:
    """Self time of the lazy layers from progressively longer call prefixes
    written to the noop sink (best of two each), and the wall-clock window
    of the last scan and parse prefix for reading their Spark counters. A
    prefix whose function the program no longer has is reported as missing
    (None)."""
    from pyspark.sql import functions as F

    from cflog2otel_spark.pipeline import run_pipeline
    from cflog2otel_spark.sources.tokenized import read_tokenized

    spark = b.spark
    windows: dict[str, tuple[float, float]] = {}

    def best(label: str, make) -> float | None:
        try:
            times = []
            for _ in range(2):
                df = make()
                t0 = time.time()
                times.append(_noop_s(df))
                windows[label] = (t0, time.time())
            return min(times)
        except (ImportError, AttributeError, TypeError):
            return None

    def parse_mod():
        from cflog2otel_spark.operators import parse

        return parse

    def tok():
        return read_tokenized(spark, path)

    def parsed():
        return parse_mod().decode_and_parse(tok(), keep_payload=False)

    def enriched():
        from cflog2otel_spark.operators.enrich import enrich

        return enrich(parsed(), on_bad_key="skip")

    scan = best("scan", tok)
    decode = best("decode", lambda: tok().select(
        parse_mod().decode_tokens_col(F.col("tokens")).alias("line")))
    parse = best("parse", parsed)
    enrich = best("enrich", enriched)

    def minus(a, b):
        return a - b if a is not None and b is not None else None

    out = {
        "sources.scan_s": scan,
        "parse.decode_s": minus(decode, scan),
        "parse.split_cast_s": minus(parse, decode),
        "enrich.s": minus(enrich, parse),
    }
    res = run_pipeline(spark, compile_config(spark, FLAGSHIP), tok())
    t = time.time()
    res.parsed.count()
    out["pipeline.persist_s"] = time.time() - t
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    out["pipeline.cache_bytes"] = float(sum(i.memSize() + i.diskSize() for i in infos))
    out["aggregate.s"] = sum(_noop_s(df) for df in res.sinks.values())
    res.unpersist()
    return out, windows


def _prefix_counters(ev: SparkEvents, windows: dict) -> dict:
    def tasks(label: str) -> list[dict] | None:
        return ev.within(ev.tasks, *windows[label]) if label in windows else None

    parse = tasks("parse")
    scan = ev.within(ev.scan_bytes, *windows["scan"]) if "scan" in windows else None
    return {
        "sources.bytes_read": float(sum(x["bytes"] for x in scan)) if scan else None,
        "parse.rows": float(sum(t["records_read"] for t in parse)) if parse else None,
    }


def _speedup_job(b: Bench) -> float:
    """Seconds of a flagship-shaped job on the small fixed input in the
    current session; the JVM has already compiled its plans."""
    from cflog2otel_spark.pipeline import run_pipeline, write_sinks
    from cflog2otel_spark.sources.tokenized import read_tokenized

    inp = b.prep(inputs.cached_input, b.cache_dir, "speedup", b.seed, SPEEDUP_ROWS)
    t = time.time()
    cfg = compile_config(b.spark, FLAGSHIP)
    res = run_pipeline(b.spark, cfg, read_tokenized(b.spark, inp.parquet))
    write_sinks(res, os.path.join(b.run_dir, f"speedup-{b.spark.sparkContext.master}"))
    res.unpersist()
    return time.time() - t


def _span_layers(b: Bench, ev: SparkEvents, windows, n_metrics: int,
                 t0: float, t1: float) -> dict:
    """Per-operation medians of span self times and of the Spark work that
    falls inside each operation's window, over the spans in [t0, t1]."""
    per_op: dict[str, list[float]] = {}

    def add(name: str, v: float) -> None:
        per_op.setdefault(name, []).append(v)

    for s0, s1 in windows:
        jobs = ev.within(ev.jobs, s0, s1)
        tasks = ev.within(ev.tasks, s0, s1)
        add("spark.jobs", len(jobs))
        add("spark.tasks", len(tasks))
        add("spark.gc_s", sum(t["gc_s"] for t in tasks))
        add("spark.spill_bytes", sum(t["spill"] for t in tasks))
        add("aggregate.shuffle_write_bytes", sum(t["shuffle_write"] for t in tasks))
        add("aggregate.passes_per_metric", ev.shuffles(s0, s1) / n_metrics)
    spans = [s for s in b.tracer.spans if t0 <= s.start <= t1]
    for label, metric in (("config.compile", "config.compile_s"),
                          ("write_sinks", "sinks.write_s"),
                          ("write_run_manifest", "manifest.s"),
                          ("encode_otlp", "otlp.encode_s"),
                          ("export_otlp_http", "export.s")):
        per_op[metric] = [s.self_s for s in spans if s.name == label]
    per_op["manifest.jobs"] = [len(ev.within(ev.jobs, s.start, s.end))
                               for s in spans if s.name == "write_run_manifest"]
    out = {k: _median(v) for k, v in per_op.items()}
    out["session.start_s"] = b.session_start_s
    return out


def _outcome(b: Bench, ops: list[Op], errors: list[str], rows: int, digest: str,
             host: dict, layers: dict, latencies: list[float], settle: list[Op]) -> Outcome:
    traced = layers.get("extra_ops", [])
    failed = sum(1 for o in ops + traced if o.errors)
    busy = sum(o.seconds for o in ops)
    detail = {
        "seed": b.seed,
        "setup_s": b.setup_s,
        "excluded_prep_s": b.excluded_s,
        "inputs": {"rows": rows, "digest": digest},
        "ops": [{"s": o.seconds, "steal": round(o.steal, 4), "errors": o.errors[:3]}
                for o in ops],
        "extra_ops": [{"s": o.seconds, "steal": round(o.steal, 4), "errors": o.errors[:3]}
                      for o in traced],
        "settle_s": [o.seconds for o in settle],
        "latency_s": latencies,
        "latency_tail_s": tail(latencies) if latencies else None,
        "host": host,
        "errors": errors[:5],
    }
    if b.trace:
        metrics = {k: v for k, v in layers.items() if isinstance(v, (int, float, type(None)))}
        detail["missing"] = layers.get("missing", [])
        detail["spans"] = _span_summary(b.tracer)
    else:
        metrics = {
            "rows_per_s": rows / busy if busy else 0.0,
            "arrival_latency_s": _median(latencies),
            "setup_s": b.setup_s,
            "peak_rss_mb": b.peak_rss_mb(),
        }
    return Outcome(metrics, len(ops) + len(traced), failed, errors, detail)


def _span_summary(tr: Tracer) -> dict:
    out: dict[str, dict] = {}
    for s in tr.spans:
        d = out.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        d["calls"] += 1
        d["total_s"] += s.seconds
        d["self_s"] += s.self_s
    return out


WORKLOADS = {"flagship": flagship, "arrivals": arrivals}
