"""The spark-tiler benchmark.

Run one workload (from any directory; the engine is imported from the
checkout that holds this file):

  python3 perfbench/run.py --workload tiles --seed 1 --seconds 15 --trace 0

The last line of standard output is one JSON object: ``correct``,
``attempted`` and ``failed`` operations, and ``metrics`` (the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``). ``--out FILE`` also appends that line, tagged with the
workload and seed, to a JSONL file.

Compare two such files (medians, quartiles and pair win fractions per
workload and metric; runs pair up by seed):

  python3 perfbench/run.py --compare parent.jsonl change.jsonl

Self-checks (input determinism; every output check fails on a corrupted
output):

  python3 perfbench/run.py --selfcheck

See perfbench/README.md for what each workload and metric is.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3  # input generations per run; setup_s takes their median
TIME_CAP_S = 120.0  # stop starting timed passes after this much of the run

LAYERS = (
    "tools.render_pbf",
    "pipeline",
    "sources.pbf",
    "operators.ways_in_rect",
    "raster.ops.render",
    "raster.pyramid",
    "raster.sink",
    "raster.mvt",
    "raster.ops.decode",
    "operators.dedup",
    "operators.text",
    "operators.sampling",
    "operators.packing",
    "plans.checkpoint",
)


T0 = time.perf_counter()


def _log(msg: str) -> None:
    print(f"[{time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _engine_present() -> bool:
    return os.path.isdir(os.path.join(ROOT, "osm_render_spark")) and os.path.isfile(
        os.path.join(ROOT, "tools", "render_pbf.py")
    )


def _prepare_env(work: str) -> None:
    """Everything the run writes stays under ``work``; Python workers
    import the engine from ROOT whatever the current directory is."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # every JVM, the spark-submit launcher included, keeps its temp files
    # and performance data out of the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    for p in (ROOT, os.path.join(ROOT, "tools")):
        if p not in sys.path:
            sys.path.insert(0, p)


def _remove(work: str) -> None:
    """Delete a run's directory, and ``.bench_out`` once it is empty."""
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass


def _host_heap() -> str:
    """Driver heap: an eighth of host RAM, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(4096, max(1024, kib // 1024 // 8))}m"


def start_session(work: str, name: str, trace: bool):
    from osm_render_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    cpus = len(os.sched_getaffinity(0))
    heap = _host_heap()
    conf = {
        "spark.driver.memory": heap,
        # a fixed-size heap keeps the JVM's resident set from tracking
        # when the collector happens to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{heap}",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
        })
    return get_spark(f"perfbench-{name}", cpus=cpus, shuffle_partitions=cpus, extra_conf=conf)


def _descendants(root_pid: int) -> list[int]:
    children = defaultdict(list)
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children[ppid].append(int(pid))
    out, todo = [], list(children[root_pid])
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children[pid])
    return out


def _tree_rss_kib(root_pid: int) -> int:
    """Proportional resident set (PSS, so pages the PySpark daemon shares
    with the workers it forked count once) summed over ``root_pid``'s
    descendants: the JVM, the PySpark daemon and its Python workers."""
    total = 0
    for pid in _descendants(root_pid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next((int(line.split()[1]) for line in f if line.startswith("Pss:")), 0)
        except (OSError, ValueError, IndexError):
            continue
    return total


def stop_session(spark) -> None:
    """Stop Spark, end its JVM (which ends the PySpark daemon and its
    workers) and wait until no process started by this one is left."""
    from pyspark import SparkContext

    started = _descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits at end of its standard input
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{pid}") for pid in started) and time.monotonic() < deadline:
        time.sleep(0.2)


class RssSampler:
    """Samples the descendants' summed PSS every ``interval`` seconds on a
    daemon thread; ``peak_mb`` is the highest sum seen. The interval is
    long enough that the sampler rarely holds the driver's GIL while a
    pass makes its Py4J calls."""

    def __init__(self, interval: float = 0.5):
        self.interval, self.peak_kib = interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kib = max(self.peak_kib, _tree_rss_kib(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kib / 1024


def _import_engine(batches):
    import osm_render_spark.operators.dedup  # noqa: F401
    import osm_render_spark.raster.ops  # noqa: F401
    import osm_render_spark.raster.pyramid  # noqa: F401
    import osm_render_spark.sources.pbf  # noqa: F401

    yield from batches


class Run:
    """One benchmark process: set-up (session, Python-worker warm-up,
    inputs, warm-up passes), timed passes and an optional traced pass of
    one workload."""

    def __init__(self, wl, seed: int, work: str):
        self.wl, self.seed, self.work = wl, seed, work
        self.attempted, self.failed = 0, []
        self.spark = None

    def _count(self, checked) -> None:
        self.attempted += checked.attempted
        self.failed.extend(checked.failed)

    def _fail(self, what: str, n_ops: int) -> None:
        traceback.print_exc(file=sys.stderr)
        self.attempted += n_ops
        self.failed.extend([what] * n_ops)

    def setup(self, trace: bool) -> float:
        t0 = time.perf_counter()
        self.spark = start_session(self.work, self.wl.name, trace)
        self.session_s = time.perf_counter() - t0
        t = time.perf_counter()
        if self.wl.warm_passes:
            self._warm_passes(self.wl.warm_passes)
        else:
            # start every Python worker and import the engine in it
            n = self.spark.sparkContext.defaultParallelism
            self.spark.range(n, numPartitions=n).mapInPandas(_import_engine, "id long").collect()
        warm_s = time.perf_counter() - t
        gen_s, digests = [], set()
        for k in range(SETUP_REPEATS):
            root = os.path.join(self.work, f"inputs{k}")
            os.makedirs(root)
            t = time.perf_counter()
            self.inp = self.wl.make_inputs(self.spark, self.seed, root)
            gen_s.append(time.perf_counter() - t)
            digests.add(self.inp["digest"])
        # a seed must always make byte-identical inputs
        self.attempted += 1
        if len(digests) != 1:
            self.failed.append("inputs: one seed made different inputs")
        self.wl.expect(self.inp)
        _log(f"set-up: session {self.session_s:.1f}s, warm-up {warm_s:.1f}s, inputs {gen_s}")
        return self.session_s + warm_s + statistics.median(gen_s)

    def _warm_passes(self, n: int) -> None:
        """``n`` checked passes over a reduced input of the same seed, so
        that Python-worker start, code generation, JIT and lazy set-up of
        every stage are neither in ``wall_s`` nor in the input
        generations."""
        from perfbench.trace import NullTracer

        root = os.path.join(self.work, "warm")
        os.makedirs(root)
        small = self.wl.make_inputs(self.spark, self.seed, root, reduced=True)
        self.wl.expect(small)
        for i in range(n):
            try:
                res = self.wl.run(self.spark, NullTracer(), small, os.path.join(root, f"out{i}"))
                self._count(self.wl.check(self.spark, small, res, None, {}))
            except Exception:
                self._fail(f"warm-up pass {i}", 1)
        shutil.rmtree(root, ignore_errors=True)

    def _pass(self, tracer, inp: dict, out_dir: str, resume: bool = False) -> dict:
        """One workload pass; ``res["wall_s"]`` ends when the output is
        complete on disk. With ``resume``, ``training_curate`` adds a
        timed resume (``res["resume_s"]``)."""
        t = time.perf_counter()
        res = self.wl.run(self.spark, tracer, inp, out_dir)
        res["wall_s"] = time.perf_counter() - t
        if resume and hasattr(self.wl, "resume"):
            res["resume_s"], res["resumed"] = self.wl.resume(self.spark, tracer, inp, res)
        return res

    def timed(self, passes: int, seconds: float, t_start: float) -> dict:
        """At least ``passes`` passes and ``seconds`` of pass time."""
        from perfbench.trace import NullTracer

        walls, digests = [], {}
        with RssSampler() as sampler:
            for i in itertools.count():
                out = os.path.join(self.work, f"pass{i}")
                try:
                    res = self._pass(NullTracer(), self.inp, out)
                    walls.append(res["wall_s"])
                    self._count(self.wl.check(self.spark, self.inp, res, None, digests))
                except Exception:
                    self._fail(f"pass {i}", 1)
                shutil.rmtree(out, ignore_errors=True)
                _log(f"pass {i}: {walls[-1:]}")
                done = len(walls) >= passes and sum(walls) >= seconds
                if done or time.perf_counter() - t_start > TIME_CAP_S or not walls:
                    break
        return {"walls": walls, "peak_rss_mb": sampler.peak_mb}

    def traced(self) -> dict:
        """An untraced baseline pass, then the traced pass: the two are
        equally warm, so their difference is the tracing overhead."""
        from perfbench.trace import NullTracer, Tracer, jvm_gc_seconds

        out = os.path.join(self.work, "baseline")
        res = self._pass(NullTracer(), self.inp, out, resume=True)
        baseline = res["wall_s"] + res.get("resume_s", 0.0)
        resume_share = res["resume_s"] / res["wall_s"] if "resume_s" in res else 0.0
        self._count(self.wl.check(self.spark, self.inp, res, None))
        shutil.rmtree(out, ignore_errors=True)
        _log(f"baseline pass: {baseline:.1f}s")
        tracer = Tracer(self.spark, "trace", self.wl.keep)
        self.wl.patch(tracer)
        out = os.path.join(self.work, "traced")
        gc0 = jvm_gc_seconds(self.spark)
        try:
            tracer.begin()
            t = time.perf_counter()
            res = self._pass(tracer, self.inp, out, resume=True)
            wall = time.perf_counter() - t - tracer.count_s
            gc_s = jvm_gc_seconds(self.spark) - gc0
            _log(f"traced pass: {wall:.1f}s (+{tracer.count_s:.1f}s counting rows)")
            self._count(self.wl.check(self.spark, self.inp, res, tracer))
            counters = layer_counters(self.wl.name, tracer, self.inp, res)
            _log("traced pass checked and counted")
        finally:
            tracer.close()
        return {"wall": wall, "baseline": baseline, "resume_share": resume_share, "gc_s": gc_s,
                "self_s": dict(tracer.self_s), "counters": counters}

    def stop(self) -> None:
        if self.spark is not None:
            stop_session(self.spark)
            self.spark = None


# ---------------------------------------------------------------------------
# per-layer counters
# ---------------------------------------------------------------------------


def _du_mb(path: str) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 1e6


def layer_counters(workload: str, tracer, inp: dict, res: dict) -> dict[str, float]:
    """Work counts read from the traced pass's layer outputs."""
    rows, kept = tracer.rows, tracer.kept
    c: dict[str, float] = defaultdict(float)
    if workload == "tiles":
        from osm_render_spark.sources.pbf import blob_index

        with open(inp["osm"]["pbf"], "rb") as f:
            c["sources.pbf.blobs"] = len(blob_index(f.read()))
        nodes, ways, _rels = rows["sources.pbf"][:3]
        c["sources.pbf.nodes"] = nodes
        matched = sum(rows["operators.ways_in_rect"])
        c["operators.ways_in_rect.ways_matched"] = matched
        c["operators.ways_in_rect.match_ratio"] = matched / (ways * len(inp["osm"]["cities"]))
    if rows.get("raster.ops.render"):
        tiles = sum(rows["raster.ops.render"])
        ways = sum(r["n_ways"] for out in kept["raster.ops.render"] for r in out)
        c["raster.ops.render.tiles"] = tiles
        c["raster.ops.render.ways_per_tile"] = ways / tiles if tiles else 0.0
    if rows.get("raster.sink"):
        c["raster.sink.files"] = sum(rows["raster.sink"])
        c["raster.sink.mb_written"] = sum(
            r["n_bytes"] for out in kept["raster.sink"] for r in out) / 1e6
    if rows.get("raster.pyramid"):
        # the pyramid's base is the last render (the world's)
        c["raster.pyramid.parent_tiles"] = sum(rows["raster.pyramid"]) - rows["raster.ops.render"][-1]
    if rows.get("raster.mvt"):
        c["raster.mvt.tiles"] = sum(rows["raster.mvt"])
    if workload == "training_curate":
        from perfbench.workloads import PACK_BUDGET

        decoded = kept["raster.ops.decode"][0]
        c["raster.ops.decode.images"] = len(decoded)
        into_dedup = sum(1 for r in decoded if r["dims_ok"] and r["phash_ok"] is not False)
        pairs = sum(rows["operators.dedup.pairs"][0::2])  # (pairs, dropped) per call
        removed = into_dedup - rows["operators.dedup"][0]
        c["operators.dedup.candidate_pairs"] = pairs
        c["operators.dedup.removed"] = removed
        c["operators.dedup.useful_ratio"] = removed / pairs if pairs else 0.0
        seqs = {tuple(r) for r in kept["operators.packing"][0]}
        c["operators.packing.sequences"] = len(seqs)
        c["operators.packing.fill_ratio"] = (
            sum(r[2] for r in seqs) / (len(seqs) * PACK_BUDGET) if seqs else 0.0)
        c["plans.checkpoint.mb_written"] = _du_mb(os.path.join(res["out_dir"], "store")) + _du_mb(
            os.path.join(res["out_dir"], "resumed")
        )
    return dict(c)


def _under(name: str, layer: str) -> bool:
    return name == layer or name.startswith(layer + ".")


def per_layer_metrics(session_s: float, traced: dict, events: dict) -> dict:
    """The BENCHMARK.json per-layer metrics of the traced pass. Layer
    times are shares of the traced wall (``%``), so a layer a workload
    never calls reads 0 % rather than a time."""
    wall = traced["wall"]
    self_s = traced["self_s"]
    ev = {k.split("/", 1)[1]: v for k, v in events.items() if k.startswith("trace/")}

    def busy(layer: str) -> float:
        return sum(v for k, v in self_s.items() if _under(k, layer))

    def counter(layer: str, key: str) -> float:
        return sum(v.get(key, 0.0) for k, v in ev.items() if _under(k, layer))

    def python_pct(layer: str) -> float:
        run_s = counter(layer, "run_s")
        return 100 * counter(layer, "python_run_s") / run_s if run_s else 0.0

    m: dict[str, tuple[float, str]] = {}
    for layer in LAYERS:
        m[f"{layer}.busy_pct"] = (100 * busy(layer) / wall, "%")
        m[f"{layer}.jobs"] = (counter(layer, "jobs"), "count")
    for layer in ("sources.pbf", "raster.ops.render", "raster.pyramid",
                  "raster.ops.decode", "operators.packing"):
        m[f"{layer}.python_run_pct"] = (python_pct(layer), "%")
    m["raster.ops.render.arrow_to_python_mb"] = (counter("raster.ops.render", "arrow_to_python_mb"), "MB")
    for layer in ("operators.ways_in_rect", "operators.dedup"):
        m[f"{layer}.shuffle_write_mb"] = (counter(layer, "shuffle_write_mb"), "MB")
    m["operators.ways_in_rect.task_skew"] = (
        max((v.get("task_skew", 0.0) for k, v in ev.items() if _under(k, "operators.ways_in_rect")),
            default=0.0), "ratio")
    for part in ("write", "lineage", "read"):
        m[f"plans.checkpoint.{part}_pct"] = (100 * busy(f"plans.checkpoint.{part}") / wall, "%")
    m["plans.checkpoint.resume_pct"] = (100 * traced["resume_share"], "%")
    units = {
        "sources.pbf.blobs": "count", "sources.pbf.nodes": "count",
        "operators.ways_in_rect.ways_matched": "count", "operators.ways_in_rect.match_ratio": "ratio",
        "raster.ops.render.tiles": "count", "raster.ops.render.ways_per_tile": "ratio",
        "raster.pyramid.parent_tiles": "count", "raster.sink.files": "count",
        "raster.sink.mb_written": "MB", "raster.mvt.tiles": "count",
        "raster.ops.decode.images": "count", "operators.dedup.candidate_pairs": "count",
        "operators.dedup.removed": "count", "operators.dedup.useful_ratio": "ratio",
        "operators.packing.sequences": "count", "operators.packing.fill_ratio": "ratio",
        "plans.checkpoint.mb_written": "MB",
    }
    for name, unit in units.items():
        m[name] = (traced["counters"].get(name, 0.0), unit)
    attributed = sum(self_s.values())
    m["session.start_s"] = (session_s, "s")
    m["spark.jobs"] = (sum(v.get("jobs", 0.0) for v in ev.values()), "count")
    m["spark.gc_s"] = (traced["gc_s"], "s")
    m["spark.spill_mb"] = (sum(v.get("spill_mb", 0.0) for v in ev.values()), "MB")
    m["spark.traced_wall_s"] = (wall, "s")
    m["spark.unattributed_s"] = (wall - attributed, "s")
    m["spark.unattributed_pct"] = (100 * (wall - attributed) / wall, "%")
    m["spark.trace_overhead_s"] = (wall - traced["baseline"], "s")
    if attributed < 0.9 * wall:
        print(f"warning: layer spans cover {100 * attributed / wall:.1f}% of the traced wall",
              file=sys.stderr)
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


# ---------------------------------------------------------------------------
# modes
# ---------------------------------------------------------------------------


def run_workload(args) -> int:
    from perfbench.workloads import WORKLOADS

    t_start = time.perf_counter()
    wl = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".bench_out", f"{wl.name}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    _prepare_env(work)
    run = Run(wl, args.seed, work)
    try:
        setup_s = run.setup(bool(args.trace))
        # a traced run's untraced passes only warm the JVM up
        passes = 1 if args.trace else wl.passes
        timed = run.timed(passes, args.seconds, t_start)
        if not timed["walls"]:
            raise RuntimeError("no timed pass completed")
        if args.trace:
            from perfbench.trace import read_event_log

            traced = run.traced()
            run.stop()
            _log("session stopped")
            events = read_event_log(os.path.join(work, "eventlog"))
            _log("event log read")
            metrics = per_layer_metrics(run.session_s, traced, events)
        else:
            run.stop()
            metrics = {
                "wall_s": {"value": statistics.median(timed["walls"]), "unit": "s"},
                "setup_s": {"value": setup_s, "unit": "s"},
                "peak_rss_mb": {"value": timed["peak_rss_mb"], "unit": "MB"},
            }
    finally:
        run.stop()
        _remove(work)
    for f in run.failed:
        print(f"failed: {f}", file=sys.stderr)
    result = {
        "correct": not run.failed,
        "attempted": run.attempted,
        "failed": len(run.failed),
        "metrics": metrics,
    }
    line = json.dumps(result)
    if args.out:
        with open(args.out, "a") as f:
            f.write(json.dumps({"workload": wl.name, "seed": args.seed, "trace": args.trace,
                                "result": result}) + "\n")
    print(line)
    return 0


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def compare(path_a: str, path_b: str) -> int:
    """Per workload and metric: each side's median [q1, q3], the change
    of the median, and the fraction of seed-paired runs B wins (ties
    count for neither side)."""
    better = {}
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        for m in bench["end_to_end"] + bench["per_layer"]:
            better[m["name"]] = m["better"]
    except (OSError, KeyError, ValueError):
        pass

    def load(path):
        out = defaultdict(dict)  # (workload, metric) -> {seed: value}
        with open(path) as f:
            for line in f:
                rec = json.loads(line)
                for name, m in rec["result"]["metrics"].items():
                    out[(rec["workload"], name)][rec["seed"]] = m["value"]
        return out

    a, b = load(path_a), load(path_b)
    print(f"{'workload':16} {'metric':40} {'A median [q1, q3]':>30} {'B median [q1, q3]':>30} "
          f"{'change':>8} {'B wins':>8}")
    for key in sorted(set(a) & set(b)):
        va, vb = a[key], b[key]
        qa, qb = _quartiles(list(va.values())), _quartiles(list(vb.values()))
        sign = -1 if better.get(key[1], "lower") == "lower" else 1
        seeds = sorted(set(va) & set(vb))
        wins = sum(1 for s in seeds if sign * (vb[s] - va[s]) > 0)
        change = (qb[1] - qa[1]) / qa[1] * 100 if qa[1] else float("nan")
        side_a = f"{qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}]"
        side_b = f"{qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}]"
        print(f"{key[0]:16} {key[1]:40} {side_a:>30} {side_b:>30} {change:7.1f}% "
              f"{f'{wins}/{len(seeds)}':>8}")
    return 0


def selfcheck() -> int:
    """Input determinism per workload, then every output check must
    pass on a real reduced pass and fail on a corrupted copy of it."""
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    work = os.path.join(ROOT, ".bench_out", f"selfcheck-{os.getpid()}")
    os.makedirs(work)
    _prepare_env(work)
    bad = []

    def expect(what: str, ok: bool) -> None:
        print(f"{'ok  ' if ok else 'FAIL'} {what}")
        if not ok:
            bad.append(what)

    spark = start_session(work, "selfcheck", False)
    try:
        for wl in WORKLOADS.values():
            dirs = [os.path.join(work, wl.name, d) for d in ("a", "b", "c")]
            for d in dirs:
                os.makedirs(d)
            a = wl.make_inputs(spark, 1, dirs[0], reduced=True)
            b = wl.make_inputs(spark, 1, dirs[1], reduced=True)
            c = wl.make_inputs(spark, 2, dirs[2], reduced=True)
            expect(f"{wl.name}: one seed makes identical inputs", a["digest"] == b["digest"])
            expect(f"{wl.name}: another seed makes other inputs", a["digest"] != c["digest"])
            wl.expect(a)
            tracer = Tracer(spark, "selfcheck", wl.keep)
            wl.patch(tracer)
            try:
                out = os.path.join(work, wl.name, "out")
                res = wl.run(spark, tracer, a, out)
                if hasattr(wl, "resume"):
                    res["resume_s"], res["resumed"] = wl.resume(spark, tracer, a, res)
                good = wl.check(spark, a, res, tracer, {})
                expect(f"{wl.name}: checks pass on a real pass", not good.failed)
                n_bad = corrupt(spark, wl.name, res, a)
                broken = wl.check(spark, a, res, None, None)
                expect(f"{wl.name}: checks fail on corrupted outputs ({broken.failed})",
                       len(broken.failed) >= n_bad)
            finally:
                tracer.close()
    finally:
        stop_session(spark)
        _remove(work)
    print(f"selfcheck: {'all passed' if not bad else f'{len(bad)} failed'}")
    return 0 if not bad else 1


def corrupt(spark, workload: str, res: dict, inp: dict) -> int:
    """Damage outputs the way a bug would; returns how many operations
    the checks must at least fail."""
    if workload == "tiles":
        # drop one tile from a city tree and one from the pyramid
        for product in ("cities", "world"):
            for dirpath, _dirs, files in os.walk(os.path.join(res["out_dir"], product)):
                pngs = sorted(f for f in files if f.endswith(".png"))
                if pngs:
                    os.remove(os.path.join(dirpath, pngs[0]))
                    break
        return 2
    else:
        # let one planted duplicate survive dedup and curation
        cold = res["cold"]
        dup, _orig = next(
            (d, o) for d, o in inp["expected"]["dups"]
            if o in {r["image_id"] for r in cold["curated"].collect()}
        )
        row = cold["curated"].limit(1).collect()[0].asDict()
        row["image_id"] = dup
        extra = spark.createDataFrame([row], cold["curated"].schema)
        cold["curated"] = cold["curated"].unionByName(extra)
        cold["kept_ids"] = cold["kept_ids"].unionByName(
            spark.createDataFrame([(dup,)], cold["kept_ids"].schema))
        return 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=("tiles", "training_curate"))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append the result, tagged with workload and seed, to this JSONL file")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"), help="compare two --out files")
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args(argv)
    if args.compare:
        return compare(*args.compare)
    if not _engine_present():
        print(f"error: the engine (osm_render_spark/, tools/render_pbf.py) is not under {ROOT}",
              file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    if args.selfcheck:
        return selfcheck()
    if not args.workload:
        ap.error("--workload is required")
    return run_workload(args)


if __name__ == "__main__":
    raise SystemExit(main())
