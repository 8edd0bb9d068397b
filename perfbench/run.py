"""The repo benchmark: one seeded workload per run, every output checked.

    python3 perfbench/run.py --workload pages_batch --seed 1 --seconds 14 --trace 0

Workloads (perfbench/workloads.py): ``pages_batch``, ``pbf_extract``,
``stream_pages``, ``dedup_docs``. BENCHMARK.json lists the first and the
third: one run takes about a minute on 4 cores (JVM start, Python worker
spawn and three set-ups are half of it), so a fixed budget for repeated
runs admits two; the other two run by name, and their layers are timed
on the listed two in the traced run. A run is one Spark application on
``local[N]`` (N = usable cores, at most 4) with driver memory sized to
the machine, and goes:

1. CPU calibration probe (repeated at the end: host contention shows as
   probe drift, not as a regression).
2. Set-up, ``SETUP_REPS`` times: session start, seeded input generation
   into the run's own scratch, a small warm-up (pages_batch: its own
   chain over a sixteenth of the input). ``setup_s`` is the median; the
   JVM launch falls into the first repetition only.
3. The first full-size pass: ``cold_wall_s``, printed with the metrics
   but not part of the result: a single sample per run, it reads 10-25%
   apart from run to run on a shared 4-core host (JIT and host load),
   more than a run-to-run bound can hold.
4. Warm passes: as many whole passes of the workload's nominal length as
   fit in ``--seconds`` (at least one); ``wall_s`` is the fastest of them
   (see ``e2e_metrics``). Steady-state window: the first full pass is
   always excluded, and the window is the same passes (by index) on
   every commit. Passes keep speeding up for a while -- on a 4-core box
   the flagship chain at sf0.1 read 15.9, 11.0, 10.7, 9.9, 8.1, 9.9, 8.6,
   7.8 s over eight passes of one process -- so a window whose pass count
   followed the measured speed moved its result with noise (pages_batch
   read ~3.0 s with four passes and ~3.8 s with three).

Every pass's output is checked (workloads.py); a failed check or pass
counts in ``failed`` and makes the exit code 1.

``--trace 1`` runs with the Spark UI on and, after the cold pass,
alternates untraced passes with passes that carry a span per layer call
(tracing.py); then it times split-out layer calls (decode in parts,
framing, batch dedup and grouping) and prints the per-layer table, the
tracing overhead (traced minus untraced pass wall) and the uncovered
remainder of the pass wall. Its JSON metrics are the per-layer metrics;
spans are written to ``.perfbench_out/`` at the end of the run.

The last line of standard output is the JSON result
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
MAX_CORES = 4
LAYERS = ("session", "pages", "pbf_file", "pbf", "joins", "tiling", "stream", "dedup", "graph")

# every per-layer metric a traced run prints (0 where a layer does not run
# on the workload), with its unit; BENCHMARK.json lists the same names
PER_LAYER = {
    **{f"{layer}.{k}": u for layer in LAYERS for k, u in (
        ("self_s", "s"), ("tasks", "count"), ("failed_tasks", "count"),
        ("shuffle_write_mb", "MB"), ("spill_mb", "MB"))},
    "session.start_s": "s", "pages.synth_s": "s",
    "pbf_file.frames_s": "s", "pbf_file.frames": "count", "pbf_file.splits": "count",
    "pbf_file.mb_read": "MB",
    "pbf.parse_cpu_s": "s", "pbf.arrow_boundary_s": "s", "pbf.decode_noop_s": "s",
    "pbf.decode_sink_s": "s", "pbf.rows_out": "count", "pbf.out_mb": "MB",
    "pbf.bad_payloads": "count",
    "joins.resolve_s": "s", "joins.pages_geo_s": "s", "joins.refs_in": "count",
    "joins.rows_out": "count", "joins.exchanges": "count", "joins.task_skew": "ratio",
    "tiling.pyramid_s": "s", "tiling.heat_map_s": "s", "tiling.tiles_out": "count",
    "stream.decode_s": "s", "stream.tiles_s": "s", "stream.pages_geo_s": "s",
    "stream.dedup_s": "s", "stream.batches": "count", "stream.tile_table_mb": "MB",
    "stream.state_rows": "count", "stream.rows_per_s": "1/s",
    "dedup.pairs_s": "s", "dedup.pairs_out": "count",
    "graph.cc_s": "s", "graph.rounds": "count", "graph.final_edges": "count",
    "graph.survivors_s": "s",
    "trace.wall_s": "s", "trace.untraced_wall_s": "s", "trace.overhead_s": "s",
    "trace.uncovered_s": "s", "trace.coverage": "ratio",
    "probe.cpu_start_s": "s", "probe.cpu_end_s": "s",
}

E2E_UNITS = {
    "setup_s": "s", "wall_s": "s", "input_mb_per_s": "MB/s",
    "batch_s_p50": "s", "batch_s_tail": "s", "peak_rss_mb": "MB",
}


def box():
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    with open("/proc/meminfo") as f:
        total_gb = int(f.readline().split()[1]) / 2**20
    # the inputs are a few MB: 1 GB of heap (less on a machine under 8 GB)
    # leaves the shared machine alone and keeps heap growth, and with it
    # peak_rss_mb, from varying run to run
    mem_mb = int(min(1.0, total_gb / 8) * 1024)
    return cores, f"{mem_mb}m"


def session(work: str, cores: int, mem: str, ui: bool):
    from osm_pbf_convert_spark.session import get_spark

    conf = {
        "spark.driver.memory": mem,
        # the whole heap is committed and touched at start: how far G1 grows
        # it otherwise varies run to run by more than a tenth of peak_rss_mb,
        # which then moves with what lives outside the heap (Python workers,
        # the driver, JVM code and metadata)
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData "
                                         f"-Xms{mem} -XX:+AlwaysPreTouch",
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.host": "127.0.0.1",
        "spark.driver.bindAddress": "127.0.0.1",
        "spark.ui.showConsoleProgress": "false",
        # bench.py's split sizing: small test files still fan out to cores
        "spark.sql.files.maxPartitionBytes": str(1 << 20),
        "spark.sql.files.openCostInBytes": str(1 << 20),
        "spark.ui.enabled": "true" if ui else "false",
    }
    if ui:
        conf.update({"spark.ui.port": "0", "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000"})
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Run:
    def __init__(self, args, work: str):
        from tracing import StreamListener, Tracer
        from workloads import SCALES, WORKLOADS

        self.args, self.work = args, work
        self.cores, self.mem = box()
        self.wl_cls = WORKLOADS[args.workload]
        self.scale = SCALES[args.scale]
        self.run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        self.tracer = Tracer(self.run_id)
        self.listener = StreamListener()
        self.attempted = 0
        self.failures: list[str] = []
        self.spark = None

    # ------------------------------------------------------------ set-up
    def setup(self) -> list[float]:
        times, prev = [], None
        for rep in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            d = f"{self.work}/input{rep}"
            t0 = time.perf_counter()
            with self.tracer.span("session.start", "session"):
                self.spark = session(self.work, self.cores, self.mem, ui=bool(self.args.trace))
            wl = self.wl_cls(self.scale, self.args.seed, self.cores)
            wl.generate(self.spark, d, self.tracer)
            wl.warm_up(self.spark)
            times.append(time.perf_counter() - t0)
            if prev:
                shutil.rmtree(prev, ignore_errors=True)
            prev = d
        self.wl = wl
        self.attach_listener()
        return times

    def attach_listener(self):
        self.spark.streams.addListener(self.listener)
        self.wl.listener = self.listener

    # ------------------------------------------------------------ passes
    def one_pass(self, tracer) -> dict:
        self.attempted += 1
        obs, err = None, None
        with tracer.span("pass", "bench") as sp:
            try:
                obs = self.wl.run_pass(self.spark, tracer)
            except Exception:  # a failed pass is counted, the run goes on
                err = traceback.format_exc()
                print(err, file=sys.stderr)
        if obs is not None:
            try:
                self.wl.after_pass(self.spark, obs)
            except Exception:
                err = traceback.format_exc()
                print(err, file=sys.stderr)
        return {"span": sp, "wall": sp["end"] - sp["start"], "obs": obs, "error": err,
                "tracer": tracer}

    def window(self, tracers, seconds: float) -> list[dict]:
        """The whole passes of the workload's nominal length that fit in
        ``seconds``, in rounds of one pass per tracer (at least one round).
        The count is a constant of the workload, not of the measured speed:
        passes keep getting faster for a while, so a count that varied with
        noise would move the result."""
        rounds = max(1, int(seconds // (self.wl.nominal_pass_s * len(tracers))))
        out = []
        for r in range(rounds):
            # alternate the order round by round (ABBA), so that drift
            # between passes does not favour one tracer
            out.extend(self.one_pass(t) for t in (tracers if r % 2 == 0 else tracers[::-1]))
        return out

    def batch_samples(self, passes) -> list[float]:
        """One sample per streaming micro-batch of every stage (none in a
        batch workload)."""
        out = []
        for p in passes:
            if p["obs"] is not None:
                out.extend(p["obs"].get("batch_s", ()))
        return out

    def verify(self, passes) -> None:
        if hasattr(self.wl, "reference"):
            self.wl.ref = self.wl.reference(self.spark)
        first = None
        for i, p in enumerate(passes):
            if p["error"] is not None:
                self.failures.append(f"pass {i}: raised {p['error'].strip().splitlines()[-1]}")
                continue
            fails = self.wl.check(p["obs"], first)
            first = first or p["obs"]
            self.failures.extend(f"pass {i}: {f}" for f in fails)
            p["ok"] = not fails
        self.failed = sum(1 for p in passes if p["error"] is not None or not p.get("ok"))

    # ------------------------------------------------------------ traced
    def traced(self) -> tuple[dict, list[dict]]:
        """Untraced and traced passes alternate in the one UI-enabled
        session, so warm-up drift does not read as tracing overhead."""
        from measure import median
        from tracing import StageHarvest, Tracer

        plain = self.tracer
        tt = Tracer(self.run_id + "-traced", self.spark)
        # traced first: with a single round, drift between the two passes
        # then overstates the overhead rather than hiding it
        both = self.window([tt, plain], self.args.seconds)
        passes = [p for p in both if p["tracer"] is tt]
        untraced_wall = median([p["wall"] for p in both if p["tracer"] is plain])
        extra = {}
        if self.wl.uses_pages:
            self.wl_cls(self.scale, self.args.seed, self.cores).generate(
                self.spark, f"{self.work}/traced_input", tt)
        extra.update(self.wl.decompose(self.spark, tt))
        groups = StageHarvest(self.spark).by_group()
        layer = self.layer_metrics(tt, passes, groups, untraced_wall)
        layer.update(extra)
        self.tracer.spans.extend(tt.spans)
        return layer, both

    def layer_metrics(self, tt, passes, groups, untraced_wall) -> dict:
        from measure import median

        ok = [p for p in passes if p["obs"] is not None]
        if not ok:
            raise RuntimeError("no traced pass completed")

        def descendants(root):
            out, stack = [], [root]
            while stack:
                s = stack.pop()
                out.append(s)
                stack.extend(tt.children(s["id"]))
            return out

        zero = {"self_s": 0.0, "tasks": 0, "failed_tasks": 0, "shuffle_write_mb": 0.0,
                "spill_mb": 0.0, "skew": 1.0}
        per_pass = []
        for p in ok:
            acc = {}
            for s in descendants(p["span"]):
                a = acc.setdefault(s["layer"], dict(zero))
                a["self_s"] += tt.self_time(s)
                gs = [tt.group_id(s["id"])]
                if s["name"] == "stream.replay":
                    gs += list(p["obs"].get("run_ids", ()))
                for g in gs:
                    st = groups.get(g)
                    if st:
                        for k in ("tasks", "failed_tasks", "shuffle_write_mb", "spill_mb"):
                            a[k] += st[k]
                        a["skew"] = max(a["skew"], st["skew"])
            per_pass.append(acc)
        layers = {}
        for name in LAYERS + ("bench",):
            rows = [acc.get(name) for acc in per_pass if name in acc]
            if rows:
                layers[name] = {k: median([r[k] for r in rows]) for k in zero}
                layers[name]["in_pass"] = True
            else:  # layers called outside the pass: session, pages, pbf_file
                spans = [s for s in tt.spans if s["layer"] == name]
                a = dict(zero)
                for s in spans:
                    a["self_s"] += tt.self_time(s)
                    st = groups.get(tt.group_id(s["id"]))
                    if st:
                        for k in ("tasks", "failed_tasks", "shuffle_write_mb", "spill_mb"):
                            a[k] += st[k]
                if not spans:  # set-up only (session start): its median call
                    setup = [s["end"] - s["start"] for s in self.tracer.spans if s["layer"] == name]
                    a["self_s"] = median(setup) if setup else 0.0
                layers[name] = a
        self.layer_table = layers

        def span_s(name):
            vals = [s["end"] - s["start"] for p in ok for s in descendants(p["span"]) if s["name"] == name]
            # calls split out of the pass are timed once, after the passes
            vals = vals or [s["end"] - s["start"] for s in tt.spans if s["name"] == name]
            return median(vals) if vals else 0.0

        def obs_med(fn):
            vals = [fn(p["obs"]) for p in ok]
            return median(vals)

        walls = [p["wall"] for p in ok]
        wall = median(walls)
        o = ok[0]["obs"]
        m = {f"{name}.{k}": layers[name][k] for name in LAYERS
             for k in ("self_s", "tasks", "failed_tasks", "shuffle_write_mb", "spill_mb")}
        setup_spans = [s for s in self.tracer.spans if s["name"] == "session.start"]
        synth = [s["end"] - s["start"] for s in self.tracer.spans if s["name"] == "pages.synth"]
        m.update({
            "session.start_s": setup_spans[0]["end"] - setup_spans[0]["start"],
            "pages.synth_s": median(synth) if synth else 0.0,
            "pbf.decode_sink_s": span_s("pbf.decode_sink"),
            "pbf.rows_out": sum(o["kinds"].values()) if "kinds" in o else
            o.get("summary", {}).get("n_entities", 0),
            "pbf.out_mb": o.get("entities_mb", 0.0),
            "joins.resolve_s": span_s("joins.resolve"),
            "joins.pages_geo_s": span_s("joins.pages_geo"),
            "joins.refs_in": self.wl.orders.n_nodes if "resolve" in o else 0,
            "joins.rows_out": o["resolve"][0] if "resolve" in o else 0,
            "joins.exchanges": _exchanges(o.get("resolve_plan", "")),
            "joins.task_skew": layers["joins"]["skew"],
            "tiling.pyramid_s": span_s("tiling.pyramid"),
            "tiling.heat_map_s": span_s("tiling.heat_map"),
            "tiling.tiles_out": o.get("tiles_out", 0),
            "stream.decode_s": span_s("stream.decode"),
            "stream.tiles_s": span_s("stream.tiles"),
            "stream.pages_geo_s": span_s("stream.pages_geo"),
            "stream.dedup_s": span_s("stream.dedup"),
            "stream.batches": obs_med(lambda x: len(x.get("batch_s", ()))),
            "stream.tile_table_mb": obs_med(lambda x: x.get("tile_table_mb", 0.0)),
            "stream.state_rows": obs_med(lambda x: x.get("state_rows", 0)),
            "stream.rows_per_s": median(sum((p["obs"].get("rows_per_s", []) for p in ok), []) or [0.0]),
            "dedup.pairs_s": span_s("dedup.pairs"),
            "dedup.pairs_out": len(o.get("pairs", ())),
            "graph.cc_s": span_s("graph.cc"),
            "graph.rounds": o.get("rounds") or 0,
            "graph.final_edges": o.get("final_edges") or 0,
            "graph.survivors_s": span_s("graph.survivors"),
            "trace.wall_s": wall,
            "trace.untraced_wall_s": untraced_wall,
            "trace.overhead_s": wall - untraced_wall,
            "trace.uncovered_s": layers["bench"]["self_s"],
            "trace.coverage": 1.0 - layers["bench"]["self_s"] / wall,
            # decomposition metrics default to 0 where the layer is absent
            "pbf.parse_cpu_s": 0.0, "pbf.arrow_boundary_s": 0.0, "pbf.decode_noop_s": 0.0,
            "pbf.bad_payloads": 0, "pbf_file.frames_s": 0.0, "pbf_file.frames": 0,
            "pbf_file.splits": 0, "pbf_file.mb_read": 0.0,
        })
        return m


def _exchanges(plan: str) -> int:
    """Shuffle Exchange operators in a physical plan string."""
    import re

    return len(re.findall(r"(?<![A-Za-z])Exchange (?:hash|range|round|single|Single)", plan))


def e2e_metrics(run: Run, setup_times, window, rss) -> tuple[dict, dict]:
    from measure import median, tail

    walls = [p["wall"] for p in window]
    # the fastest pass of the window: a shared host's contention comes in
    # bursts and only ever adds time, so it reaches the median of a few
    # passes more often than the fastest one (pages_batch over ten seeds,
    # IQR/median of the median pass vs the fastest: 0.18 vs 0.07 in one
    # set, 0.29 vs 0.24 in a noisier one)
    wall = min(walls)
    # a batch workload's whole input is one batch: its batch is the pass
    batches = run.batch_samples(window) or [wall]
    pct, tail_v = tail(batches)
    peak_mb, parts = rss.snapshot()
    values = {
        "setup_s": median(setup_times),
        "wall_s": wall,
        "input_mb_per_s": run.wl.input_bytes / 2**20 / wall,
        "batch_s_p50": median(batches),
        "batch_s_tail": tail_v,
        "peak_rss_mb": peak_mb,
    }
    notes = {
        "setup_s": f"n={len(setup_times)} reps=" + ",".join(f"{t:.2f}" for t in setup_times),
        "wall_s": f"fastest of n={len(walls)} passes=" + ",".join(f"{w:.2f}" for w in walls),
        "input_mb_per_s": f"n={len(walls)}",
        "batch_s_p50": f"n={len(batches)}", "batch_s_tail": f"p{pct} n={len(batches)}",
        # the process tree at its peak, largest first
        "peak_rss_mb": "n=1 " + " ".join(
            f"{c}={mb:.0f}" for c, mb in sorted(parts.values(), key=lambda x: -x[1])),
    }
    return values, notes


def execute(args, work: str) -> tuple[dict, bool, int, int]:
    import pyarrow
    import pyspark

    from measure import PeakRss, cpu_probe, host_cpu_ticks, steal_share

    run = Run(args, work)
    print(f"perfbench workload={args.workload} seed={args.seed} scale={args.scale} "
          f"seconds={args.seconds} trace={args.trace} cores={run.cores} "
          f"driver_memory={run.mem} pyspark={pyspark.__version__} "
          f"pyarrow={pyarrow.__version__} python={sys.version.split()[0]}", flush=True)
    phases = {"start": time.time()}
    try:
        with PeakRss() as rss:
            probe_start, ticks = cpu_probe(), host_cpu_ticks()
            setup_times = run.setup()
            phases["setup"] = time.time()
            cold = run.one_pass(run.tracer)
            if args.trace:
                layer, window = run.traced()
            else:
                window = run.window([run.tracer], args.seconds)
                values, notes = e2e_metrics(run, setup_times, window, rss)
            phases["passes"] = time.time()
            run.verify([cold] + window)
            probe_end, steal = cpu_probe(), steal_share(ticks, host_cpu_ticks())
            phases["checks"] = time.time()
    finally:
        _shutdown(run.spark)
        run.tracer.dump(_spans_path(args))
    names = list(phases)
    print("phases " + " ".join(f"{b}={phases[b] - phases[a]:.1f}s" for a, b in zip(names, names[1:])))
    print(f"probe cpu_start_s={probe_start:.4f} cpu_end_s={probe_end:.4f} host_steal={steal:.1%}")
    print(f"checks passes={run.attempted} failed={run.failed} "
          f"fail_ratio={run.failed / run.attempted:.4f}")
    for f in run.failures:
        print(f"CHECK FAILED {f}")
    if args.trace:
        _print_layers(run, layer)
        layer["probe.cpu_start_s"], layer["probe.cpu_end_s"] = probe_start, probe_end
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        for k, v in values.items():
            print(f"metric {k:<16} {v:>12.4f} {E2E_UNITS[k]:<5} {notes[k]}")
        # one sample per run, 10-25% apart from run to run (JIT and host
        # load): printed, but no run-to-run bound could hold it
        print(f"metric {'cold_wall_s':<16} {cold['wall']:>12.4f} {'s':<5} n=1 (not in the result)")
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in values.items()}
    return metrics, not run.failures, run.attempted, run.failed


def _print_layers(run: Run, m: dict) -> None:
    t, wall = run.layer_table, m["trace.wall_s"]
    print(f"{'layer':<10} {'self_s':>9} {'share':>7} {'tasks':>7} {'failed':>6} "
          f"{'shuf_w_mb':>9} {'spill_mb':>8}")
    for name in LAYERS + ("uncovered",):
        r = t["bench" if name == "uncovered" else name]
        # layers called outside the pass (set-up, split-out calls) get no share
        share = f"{r['self_s'] / wall:>7.1%}" if r.get("in_pass") else f"{'-':>7}"
        print(f"{name:<10} {r['self_s']:>9.4f} {share} {r['tasks']:>7.0f} "
              f"{r['failed_tasks']:>6.0f} {r['shuffle_write_mb']:>9.3f} {r['spill_mb']:>8.3f}")
    print(f"pass wall traced={wall:.4f} s untraced={m['trace.untraced_wall_s']:.4f} s "
          f"tracing overhead={m['trace.overhead_s']:.4f} s coverage={m['trace.coverage']:.1%}")


def _spans_path(args) -> str:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    return os.path.join(out, f"spans-{args.workload}-seed{args.seed}-trace{args.trace}.jsonl")


def _shutdown(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers under it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin pipe closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = SparkContext._jvm = None
    _reap_children()


def _reap_children(timeout: float = 20.0) -> None:
    from measure import _children_index

    deadline = time.time() + timeout
    while True:
        kids = _children_index().get(os.getpid(), [])
        if not kids:
            return
        if time.time() > deadline:
            for pid in kids:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
            timeout, deadline = 0, time.time() + 5
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("pages_batch", "pbf_extract", "stream_pages", "dedup_docs"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full")
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its scratch (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "osm_pbf_convert_spark", "session.py")):
        print("perfbench: the osm_pbf_convert_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    # everything the run writes, Spark and Python workers included, stays
    # inside the checkout
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))
    sys.path[:0] = [ROOT, HERE]
    try:
        metrics, correct, attempted, failed = execute(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
