"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload pip_tile --seed 1 --seconds 20 --trace 0

The run is one fresh process at local[nproc]: it starts a Spark session,
builds the seeded corpus (several times, for setup_s), builds the
workload's index (several times, for index_build_s), runs two untimed
warm-up passes (the first one's outputs get the deep oracle check), then
timed passes (closed loop, one client) for --seconds.  Outputs are
checked after each pass, outside the timed region.  --trace 1 turns the
Spark event log and the layer spans on and reports the per-layer metrics
instead of the end-to-end ones.  Every run's raw samples are archived
under perfbench/results/.  --smoke shrinks the inputs so every workload
and check runs in seconds.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import datetime  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import tempfile  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

SIZES = {
    # 1,000 docs x 8 replicas ~ 58k points, 1/160 of bench.py's corpus:
    # small enough that every run, set-up included, fits the time budget
    "full": {"docs": 1000, "replicas": 8, "polygons": 2000, "queries": 50,
             "dwithin_queries": 800, "partitions": 8},
    "smoke": {"docs": 500, "replicas": 4, "polygons": 200, "queries": 50,
              "dwithin_queries": 200, "partitions": 4},
}
SETUP_REPEATS = 3   # corpus builds per run; setup_s uses their median
INDEX_REPEATS = 5   # index builds per run; index_build_s is their median
WARMUP_PASSES = 2   # untimed passes before the timed ones (JIT, workers)
RUNTIME_MODULES = ("inputs", "layers", "oracle", "run", "tracing", "workloads")


# ------------------------------------------------------------ processes --


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, stack = _children(), [], [pid]
    while stack:
        for c in kids.get(stack.pop(), ()):
            out.append(c)
            stack.append(c)
    return out


def tree_rss(pid: int) -> dict[int, int]:
    """RSS in bytes of `pid` and every process below it (driver Python,
    the JVM and its Python workers)."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as f:
                out[p] = int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return out


class RssSampler:
    """Samples the process tree's summed RSS every `interval` seconds and
    keeps the run's peak, split into this process, the JVM and the rest,
    and the peak of the current window (one pass)."""

    def __init__(self, interval: float = 0.2):
        self.interval, self.peak, self.split = interval, 0, {}
        self._window_peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            rss = tree_rss(me)
            total = sum(rss.values())
            with self._lock:
                self._window_peak = max(self._window_peak, total)
            if total > self.peak:
                jvm = max((p for p in rss if p != me), key=rss.get, default=None)
                self.peak = total
                self.split = {"driver_mb": rss[me] / 2**20,
                              "jvm_mb": rss.get(jvm, 0) / 2**20,
                              "others_mb": (total - rss[me] - rss.get(jvm, 0)) / 2**20,
                              "others": len(rss) - 2}
            if self._stop.wait(self.interval):
                return

    def window(self) -> int:
        """Peak since the previous call, in bytes (includes a fresh sample)."""
        now = sum(tree_rss(os.getpid()).values())
        with self._lock:
            peak, self._window_peak = max(self._window_peak, now), 0
            self.peak = max(self.peak, now)
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def stop_spark(spark) -> None:
    """Stop the session and the JVM, then wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Exception:  # the JVM may be gone already; still reap it below
        traceback.print_exc()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass


# ------------------------------------------------------------------ run --


class Context:
    """What one run shares with its workload: session, inputs, counters."""

    def __init__(self, spark, tracer, seed, sizes, workdir):
        self.spark, self.tracer, self.seed = spark, tracer, seed
        self.sizes, self.workdir = sizes, workdir
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.docs = self.corpus = None
        self.doc_ids: set[int] = set()

    def op(self, label: str, fn):
        """Run one engine operation; an exception counts it as failed."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # a failed operation must not stop the run
            self.failed += 1
            self.errors.append(f"{label}: {traceback.format_exc(limit=3)}")
            return None

    def verify(self, checks) -> None:
        for label, out, check in checks:
            if out is None:
                continue  # already counted as failed
            errs = check()
            if errs:
                self.failed += 1
                self.errors.extend(f"{label}: {e}" for e in errs)


def source_hash() -> str:
    """Hash of the engine and the benchmark's runtime sources (the
    checkout may not be a git repository, so a commit id alone cannot
    identify the code a run measured)."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, m + ".py") for m in RUNTIME_MODULES]
    for d, dirs, names in sorted(os.walk(os.path.join(ROOT, "tree_code_chunker_spark"))):
        dirs.sort()
        files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    for path in files:
        with open(path, "rb") as f:
            h.update(os.path.relpath(path, ROOT).encode() + f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None  # a plain checkout: never read a parent repository
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def percentile_tail(samples: list[float]) -> tuple[int, float] | None:
    """Highest whole percentile with at least ten samples beyond it."""
    s = sorted(samples)
    for p in range(99, 0, -1):
        idx = int(len(s) * p / 100)
        if len(s) - idx - 1 >= 10:
            return p, s[idx]
    return None


def host_probe_s() -> float:
    """Wall time of a fixed pure-Python loop: a reading of the host's
    speed right after the run, archived to explain drift between runs."""
    t0 = time.perf_counter()
    total = 0
    for i in range(3_000_000):
        total += i * i
    return time.perf_counter() - t0


def start_session(name: str, cores: int, workdir: str, trace: bool):
    from tree_code_chunker_spark.plans.session import get_spark

    for sub in ("local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(workdir, sub), exist_ok=True)
    tempfile.tempdir = os.path.join(workdir, "tmp")  # pyspark's gateway files
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "local"),
        "TMPDIR": os.path.join(workdir, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        # every JVM, spark-submit's launcher too: no /tmp perf-data files
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tempfile.tempdir}",
    })
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(workdir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(f"perfbench-{name}", cores=cores, extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def measure(args, ctx: Context, rss: RssSampler, samples: dict,
            record: dict) -> dict:
    """Set-up, index builds, the warm-up passes and the timed passes."""
    import inputs
    import oracle
    from workloads import WORKLOADS

    spark, tracer, sizes = ctx.spark, ctx.tracer, ctx.sizes
    # --- setup: the seeded corpus, geocoded and cached, built several times ---
    rows = inputs.doc_rows(sizes["docs"], args.seed)
    ctx.doc_ids = {d for d, _ in rows}
    for _ in range(SETUP_REPEATS):
        if ctx.corpus is not None:
            ctx.corpus.unpersist(blocking=True)
            ctx.docs.unpersist(blocking=True)
        t0 = time.perf_counter()
        with tracer.span("geo.build_corpus"):
            ctx.docs = inputs.docs_frame(spark, rows).cache()
            ctx.corpus = inputs.build_corpus(
                spark, ctx.docs, sizes["replicas"], sizes["partitions"])
            n_points = ctx.corpus.count()
        samples["corpus_build_s"].append(time.perf_counter() - t0)
    corpus_pdf = ctx.corpus.select(
        "doc_id", "span_pos", "qlat", "qlon", "cell").toPandas()
    ctx.attempted += 1
    ctx.verify([("corpus", corpus_pdf, lambda: oracle.check_corpus(
        corpus_pdf, inputs.n_spans(rows) * sizes["replicas"]))])
    pts = oracle.Points(*(corpus_pdf[c].to_numpy("int64") for c in
                          ("doc_id", "span_pos", "qlat", "qlon")))
    del corpus_pdf
    record["sizes"].update(points=n_points)

    # --- the workload's index, built several times ---
    wl = WORKLOADS[args.workload](ctx)
    index_info = {}
    for _ in range(INDEX_REPEATS):
        t0 = time.perf_counter()
        index_info = wl.build_index()
        samples["index_build_s"].append(time.perf_counter() - t0)
    record["sizes"].update(wl.prepare(pts))

    # --- warm-up passes (untimed; the first is deep-checked), then timed
    # passes in a closed loop: no pass starts that the last one says would
    # end past --seconds (the first timed pass always runs) ---
    def one_pass(i: int, warm: bool) -> float:
        data = wl.inputs(i)
        rss.window()
        t0 = time.perf_counter()
        with tracer.span("run.pass", pass_id=i, warm=warm):
            checks = wl.run_pass(i, data, deep=i == 0)
        dt = time.perf_counter() - t0
        if not warm:
            samples["pass_s"].append(dt)
            samples["pass_rss_mb"].append(rss.window() / 2**20)
        ctx.verify(checks)
        return dt

    samples["warmup_s"] = [one_pass(i, warm=True) for i in range(WARMUP_PASSES)]
    loop_start, i = time.perf_counter(), WARMUP_PASSES
    while not samples["pass_s"] or (
            time.perf_counter() - loop_start + samples["pass_s"][-1]
            <= args.seconds):
        one_pass(i, warm=False)
        i += 1
    return index_info


def run(args) -> dict:
    import layers
    import tracing

    cores = len(os.sched_getaffinity(0))
    sizes = SIZES["smoke" if args.smoke else "full"]
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S")
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}"
    workdir = os.path.join(HERE, "_work", run_id)
    samples: dict = {"corpus_build_s": [], "index_build_s": [], "pass_s": [],
                     "pass_rss_mb": []}
    record = {"run_id": run_id, "workload": args.workload, "seed": args.seed,
              "trace": args.trace, "seconds": args.seconds, "nproc": cores,
              "commit": git_commit(), "source_hash": source_hash(),
              "sizes": dict(sizes, smoke=args.smoke), "samples": samples}
    spark = None
    try:
        os.makedirs(workdir)
        with RssSampler() as rss:
            spark = start_session(args.workload, cores, workdir, args.trace)
            samples["session_start_s"] = time.perf_counter() - T_PROCESS
            tracer = (tracing.Tracer(spark.sparkContext) if args.trace
                      else tracing.NullTracer())
            ctx = Context(spark, tracer, args.seed, sizes, workdir)
            index_info = measure(args, ctx, rss, samples, record)
            stop_spark(spark)
            spark = None
        record["host_probe_s"] = host_probe_s()
        e2e = {
            "setup_s": samples["session_start_s"]
            + statistics.median(samples["corpus_build_s"]),
            "index_build_s": statistics.median(samples["index_build_s"]),
            "pass_s": statistics.median(samples["pass_s"]),
            "peak_rss_mb": statistics.median(samples["pass_rss_mb"]),
        }
        if args.trace:
            groups = tracing.fold(
                tracing.load_events(os.path.join(workdir, "eventlog")))
            index_key = ("pip.index_build_s" if args.workload == "pip_tile"
                         else "knn.index_build_s")
            setup = {"session.start_s": samples["session_start_s"],
                     "geo.corpus_build_s": statistics.median(
                         samples["corpus_build_s"]),
                     "run.warmup_s": samples["warmup_s"][0],
                     index_key: e2e["index_build_s"], **index_info}
            values = layers.derive(args.workload, tracer.spans, groups, setup,
                                   cores, k=5, n_queries=sizes["queries"])
            record.update(spans=tracer.spans, groups=groups)
            catalogue = layers.PER_LAYER
        else:
            values, catalogue = e2e, layers.END_TO_END
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
            _remove_if_empty(os.path.dirname(workdir))

    extra = {"passes": len(samples["pass_s"]), "run_peak_rss_mb": rss.peak / 2**20,
             "rss_at_run_peak": rss.split,
             "failed_ratio": ctx.failed / ctx.attempted}
    if args.workload == "pip_tile":
        extra["docs_per_s"] = sizes["docs"] / e2e["pass_s"]
    tail = percentile_tail(samples["pass_s"])
    if tail:
        extra[f"pass_p{tail[0]}_s"] = tail[1]
    metrics = {n: {"value": values[n], "unit": u} for n, u in catalogue}
    record.update(e2e=e2e, extra=extra, metrics=metrics, attempted=ctx.attempted,
                  failed=ctx.failed, errors=ctx.errors[:50])
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", run_id + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    summary = ", ".join(f"{k}={v:.4g}" for k, v in {**e2e, **extra}.items()
                        if isinstance(v, (int, float)))
    print(f"[perfbench] {run_id}: correct={ctx.failed == 0} "
          f"attempted={ctx.attempted} failed={ctx.failed}; {summary}",
          file=sys.stderr)
    for e in ctx.errors[:5]:
        print(f"[perfbench] check failed: {e}", file=sys.stderr)
    return {"correct": ctx.failed == 0, "attempted": ctx.attempted,
            "failed": ctx.failed, "metrics": metrics}


def _remove_if_empty(path: str) -> None:
    try:
        os.rmdir(path)
    except OSError:
        pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("pip_tile", "knn_serve", "spatial_join"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs: every workload and check in seconds")
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
