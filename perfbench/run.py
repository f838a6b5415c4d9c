"""torcharrow_spark benchmark: one command runs a named workload, checks
every output, and prints one JSON line of metrics.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 7 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics and writes a per-query breakdown under
``perfbench/.work/``.  See ``perfbench/README.md`` for the workloads,
the metrics and the layer each one belongs to.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

import numpy as np  # noqa: E402

import workloads  # noqa: E402
from layers import RssSampler, SparkStats, max_overlap, stop_descendants  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
#: Steady passes a run makes at least, whatever --seconds says: enough op
#: samples per run for the query percentiles, and one pass of the feed,
#: which alone takes longer than the run length.  A fixed count keeps
#: every run of a workload doing the same work on a host whose speed drifts.
MIN_STEADY_PASSES = {"queries": 3, "train_feed": 1}
MB = 1e6


def host_fit_env() -> dict:
    """Size the local Spark launch to this host before pyspark starts:
    one task slot per usable core, a driver heap that leaves the host
    room, scratch directories inside the benchmark's own tree, and one
    thread per Python worker for the native libraries."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    driver_mb = max(1024, min(4096, mem_kb // 1024 // 4))
    local_dirs = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    for d in (local_dirs, tmp):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": local_dirs,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell",
        "OMP_NUM_THREADS": "1",
        "OPENBLAS_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
    }
    os.environ.update(env)
    return {"cpus": cpus, "host_mem_mb": mem_kb // 1024, "master": f"local[{cpus}]",
            "processes": 1, **env}


class Bench:
    """Runs one workload's passes, optionally under job-group tracing."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.rng = random.Random(seed)
        self.failed_names: dict[str, str] = {}

    # -- set-up -----------------------------------------------------------

    def setup(self) -> dict:
        t0 = time.perf_counter()
        sys.path.insert(0, ROOT)
        import bench  # HEADLINE, HEADLINE_OVERRIDES and _sink are reused as they are

        import torcharrow_spark as ts

        self.bench = bench
        t1 = time.perf_counter()
        self.spark = ts.get_session()
        t2 = time.perf_counter()
        if self.workload != "train_feed":
            self.fixture_queries()
        t3 = time.perf_counter()
        self.stats = SparkStats(self.spark) if self.trace else None
        return {"import_s": t1 - t0, "session.start_s": t2 - t1, "session.fixture_s": t3 - t2}

    def fixture_queries(self) -> None:
        from torcharrow_spark.queries import QUERIES

        key = workloads.input_identity()
        with open(workloads.EXPECTED) as fh:
            expected = json.load(fh).get(key, {})
        self.names = workloads.query_names(self.workload, self.bench.HEADLINE)
        missing = [n for n in self.names if n not in expected]
        if missing:
            raise SystemExit(f"no expected hash for {missing} on inputs {key}; "
                             "run python3 perfbench/oracle.py")
        self.expected = expected
        self.calls = {n: self.bench.HEADLINE_OVERRIDES.get(n, QUERIES[n]) for n in self.names}

    def generate_feed(self) -> float:
        """Write the seeded feed rows and their reference output; runs
        before set-up and is not timed as part of it."""
        g0 = time.perf_counter()
        self.feed_path = os.path.join(WORK, "feed")
        shutil.rmtree(self.feed_path, ignore_errors=True)
        self.feed_expected = workloads.reference(workloads.make_feed(self.seed, self.feed_path))
        return time.perf_counter() - g0

    # -- passes ------------------------------------------------------------

    def group(self, label: str, name: str, phase: str) -> str:
        gid = f"{label}|{name}|{phase}"
        if self.stats:
            self.stats.group(gid)
        return gid

    def query_pass(self, label: str) -> dict:
        order = list(self.names)
        self.rng.shuffle(order)
        ops = []
        t_pass = time.perf_counter()
        for name in order:
            op = {"name": name, "class": workloads.QUERY_CLASS[name.split("_", 1)[0]],
                  "groups": [self.group(label, name, "build")]}
            a = time.perf_counter()
            try:
                df = self.calls[name](self.spark, workloads.SF_DIR)
                b = time.perf_counter()
                op["groups"].append(self.group(label, name, "sink"))
                self.bench._sink(df)
                c = time.perf_counter()
                op.update(build_s=b - a, sink_s=c - b, s=c - a, df=df)
            except Exception as e:  # a failing query is counted, never dropped
                op.update(s=time.perf_counter() - a, error=repr(e)[:500])
            ops.append(op)
        wall = time.perf_counter() - t_pass
        if self.stats:
            self.stats.clear_group()
        return {"label": label, "wall_s": wall, "ops": ops}

    def check_queries(self, cold: dict) -> None:
        """Hash each cold-pass output in tools/driver_sim's canonical form
        and compare it with the DuckDB oracle hash (outside any timed
        region)."""
        from tools.driver_sim import _canon, _hash

        for op in cold["ops"]:
            name = op["name"]
            if "error" in op:
                self.failed_names[name] = op["error"]
                continue
            try:
                got = _hash(_canon(op["df"].toPandas()))
            except Exception as e:
                self.failed_names[name] = f"check raised {e!r}"[:500]
                continue
            if got != self.expected[name]:
                self.failed_names[name] = f"hash {got} != oracle {self.expected[name]}"

    def feed_pass(self, label: str) -> dict:
        from torcharrow_spark.interop_torch import batched_tensors

        ops, batches = [], []
        t_pass = time.perf_counter()
        self.group(label, "feed", "build")
        df = workloads.feed_frame(self.spark, self.feed_path)
        build_s = time.perf_counter() - t_pass
        self.group(label, "feed", "deliver")
        it = iter(batched_tensors(df, batch_size=workloads.FEED_BATCH))
        last = t_pass
        wait = nbytes = 0.0
        error = None
        while True:
            a = time.perf_counter()
            try:
                batch = next(it)
            except StopIteration:
                break
            except Exception as e:  # the feed died: the rest of the pass is lost
                error = repr(e)[:500]
                break
            b = time.perf_counter()
            wait += b - a
            nbytes += _consume(batch)
            batches.append(batch)
            now = time.perf_counter()
            ops.append({"name": f"batch{len(ops)}", "s": now - last})
            last = now
        wall = time.perf_counter() - t_pass
        if self.stats:
            self.stats.clear_group()
        bad, errors = workloads.check_feed(batches, self.feed_expected)
        if error is not None:
            errors.append(error)
            ops.append({"name": f"batch{len(ops)}", "s": 0.0, "error": error})
        for k in bad:
            ops[k]["error"] = "wrong output"
        for msg in errors[:20]:
            self.failed_names.setdefault(f"{label}:{msg}", msg)
        return {"label": label, "wall_s": wall, "ops": ops,
                "groups": [f"{label}|feed|build", f"{label}|feed|deliver"],
                "feed": {"build_s": build_s, "wait_s": wait, "batches": len(batches),
                         "rows": sum(len(b["row_id"]) for b in batches),
                         "mb": nbytes / MB}}

    def run_pass(self, label: str, traced: bool) -> dict:
        stats, self.stats = self.stats, (self.stats if traced else None)
        try:
            sql_mark = stats.sql_watermark() if traced else 0
            p = self.feed_pass(label) if self.workload == "train_feed" else self.query_pass(label)
            p["traced"] = traced
            if label == "cold" and self.workload != "train_feed":
                self.check_queries(p)
            for op in p["ops"]:
                op.pop("df", None)
            if traced:
                p["layers"] = self.collect(p, sql_mark)
            return p
        finally:
            self.stats = stats

    # -- per-layer collection (after a pass, never inside its timing) ------

    def collect(self, p: dict, sql_mark: int) -> dict:
        st = self.stats
        python_by_job = st.python_seconds_by_job(sql_mark)
        feed = self.workload == "train_feed"
        groups = p["groups"] if feed else [g for op in p["ops"] for g in op["groups"]]
        per_group = {}
        all_stages = []
        for g in groups:
            jobs = st.jobs(g)
            stages = [s for s in (st.stage(i, with_tasks=feed) for i in st.stage_ids(jobs)) if s]
            per_group[g] = {"jobs": jobs, "stages": stages,
                            "python_s": sum(python_by_job.get(j, 0.0) for j in jobs)}
            all_stages += stages
        if not feed:
            for op in p["ops"]:
                op["trace"] = {g.rsplit("|", 1)[1]: _group_summary(per_group[g]) for g in op["groups"]}
        run_s = sum(s["run_s"] for s in all_stages)
        cpu_s = sum(s["cpu_s"] for s in all_stages)
        skews = [s["skew"] for s in all_stages if s["skew"] is not None]
        layers = {
            "exec.run_s": run_s,
            "exec.cpu_s": cpu_s,
            "exec.gc_s": sum(s["gc_s"] for s in all_stages),
            "exec.nonjvm_s": run_s - cpu_s,
            "exec.python_s": sum(v["python_s"] for v in per_group.values()),
            "exec.serial_s": sum(s["run_s"] for s in all_stages if s["tasks"] == 1),
            "exec.skew": max(skews) if skews else 1.0,
            "exec.utilisation": run_s / (p["wall_s"] * int(os.environ["SPARK_GRAFT_CPUS"])),
            "exec.shuffle_write_mb": sum(s["shuffle_write_b"] for s in all_stages) / MB,
            "exec.shuffle_read_mb": sum(s["shuffle_read_b"] for s in all_stages) / MB,
            "exec.spill_mb": sum(s["spill_b"] for s in all_stages) / MB,
            "exec.input_mb": sum(s["input_b"] for s in all_stages) / MB,
            "exec.input_records": sum(s["input_records"] for s in all_stages),
            "exec.output_records": sum(s["output_records"] for s in all_stages),
        }
        zero = dict.fromkeys(["queries.build_s", "queries.build_jobs", "functional.build_s",
                              "sink.s", "sink.jobs", "sink.stages", "sink.tasks",
                              "interop_torch.wait_s", "interop_torch.batches",
                              "interop_torch.rows", "interop_torch.mb",
                              "interop_torch.jobs", "interop_torch.max_concurrent_tasks"], 0)
        layers.update(zero)
        if feed:
            f = p["feed"]
            deliver = per_group[p["groups"][1]]
            layers.update({
                "functional.build_s": f["build_s"],
                "interop_torch.wait_s": f["wait_s"],
                "interop_torch.batches": f["batches"],
                "interop_torch.rows": f["rows"],
                "interop_torch.mb": f["mb"],
                "interop_torch.jobs": len(deliver["jobs"]),
                "interop_torch.max_concurrent_tasks": max_overlap(
                    [iv for s in all_stages for iv in s["intervals"]]),
            })
            p["trace"] = {g.rsplit("|", 1)[1]: _group_summary(v) for g, v in per_group.items()}
        else:
            p["by_class"] = _by_class(p["ops"], per_group)
            ok = [op for op in p["ops"] if "error" not in op]
            sinks = [per_group[op["groups"][1]] for op in ok]
            layers.update({
                "queries.build_s": sum(op["build_s"] for op in ok),
                "queries.build_jobs": sum(len(per_group[op["groups"][0]]["jobs"]) for op in p["ops"]),
                "sink.s": sum(op["sink_s"] for op in ok),
                "sink.jobs": sum(len(g["jobs"]) for g in sinks),
                "sink.stages": sum(len(g["stages"]) for g in sinks),
                "sink.tasks": sum(s["tasks"] for g in sinks for s in g["stages"]),
            })
        return layers

    # -- the run -------------------------------------------------------------

    def run(self, seconds: float) -> dict:
        cold = self.run_pass("cold", self.trace)
        steady = []
        t0 = time.perf_counter()
        while True:
            # traced runs alternate traced and untraced passes so the
            # tracing overhead is measured within one process
            traced = self.trace and len(steady) % 2 == 0
            steady.append(self.run_pass(f"steady{len(steady)}", traced))
            enough = time.perf_counter() - t0 >= seconds
            least = max(MIN_STEADY_PASSES[self.workload], 2 if self.trace else 1)
            if enough and len(steady) >= least:
                return {"cold": cold, "steady": steady}


def _consume(batch: dict) -> float:
    """Touch every array of a delivered batch on the driver, as a
    training step would; returns the bytes held."""
    total = 0
    for col in batch.values():
        stack = [col]
        while stack:
            c = stack.pop()
            if isinstance(c, dict):
                stack.extend(c.values())
            elif hasattr(c, "__dataclass_fields__"):
                stack.extend(getattr(c, f) for f in c.__dataclass_fields__)
            elif isinstance(c, list):
                total += sum(len(s) for s in c)
            else:
                total += np.asarray(c).nbytes
    return total


def _by_class(ops: list[dict], per_group: dict) -> dict:
    """Build jobs and executor time per query class (artifact only)."""
    out: dict = {}
    for op in ops:
        c = out.setdefault(op["class"], {"build_jobs": 0, "run_s": 0.0, "cpu_s": 0.0})
        groups = [per_group[g] for g in op["groups"]]
        c["build_jobs"] += len(groups[0]["jobs"])
        for g in groups:
            c["run_s"] += sum(s["run_s"] for s in g["stages"])
            c["cpu_s"] += sum(s["cpu_s"] for s in g["stages"])
    for c in out.values():
        c["nonjvm_s"] = c["run_s"] - c["cpu_s"]
    return out


def _group_summary(g: dict) -> dict:
    return {"jobs": len(g["jobs"]), "python_s": g["python_s"],
            "stages": [{k: v for k, v in s.items() if k != "intervals"} for s in g["stages"]]}


def declared(kind: str, values: dict) -> dict:
    """Exactly the metrics BENCHMARK.json declares under ``kind``, each
    with its declared unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)[kind]
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(MIN_STEADY_PASSES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    launch = host_fit_env()
    bench = Bench(args.workload, args.seed, bool(args.trace))
    gen_s = bench.generate_feed() if args.workload == "train_feed" else 0.0

    try:
        setup = bench.setup()
        setup_s = time.perf_counter() - T_START - gen_s
        with RssSampler() as rss:
            result = bench.run(args.seconds)
        peak_rss = rss.peak
    finally:
        _stop_spark()
    killed = stop_descendants(timeout=30)

    cold, steady = result["cold"], result["steady"]
    passes = [cold, *steady]
    ops = [op for p in passes for op in p["ops"]]
    failed = [op for op in ops if "error" in op or op["name"] in bench.failed_names]
    for name, why in sorted(bench.failed_names.items()):
        print(f"FAILED {name}: {why}", flush=True)
    print("launch: " + json.dumps(launch, sort_keys=True), flush=True)
    if killed:
        print(f"killed processes still alive 30 s after stop: {killed}", flush=True)

    untraced = [p for p in steady if not p["traced"]]
    traced = [p for p in steady if p["traced"]]
    if args.trace:
        layers = {k: statistics.median(p["layers"][k] for p in traced) for k in traced[0]["layers"]}
        layers.update({
            "session.start_s": setup["session.start_s"],
            "session.fixture_s": setup["session.fixture_s"],
            "trace.overhead_s": statistics.median(p["wall_s"] for p in traced)
            - statistics.median(p["wall_s"] for p in untraced),
            "check.error_rate": len(failed) / len(ops),
        })
        metrics = declared("per_layer", layers)
        os.makedirs(WORK, exist_ok=True)
        artifact = os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.json")
        with open(artifact, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "launch": launch,
                       "setup": {**setup, "setup_s": setup_s, "generate_s": gen_s},
                       "failed": bench.failed_names,
                       "passes": [{k: v for k, v in p.items() if k != "groups"} for p in passes]},
                      fh, indent=1, default=str)
        print(f"trace breakdown: {artifact}", flush=True)
    else:
        samples = [op["s"] for p in steady for op in p["ops"] if "error" not in op]
        print(f"op samples: {len(samples)} over {len(steady)} steady passes", flush=True)
        deciles = statistics.quantiles(samples, n=10, method="inclusive")
        metrics = declared("end_to_end", {
            "setup_s": setup_s,
            "cold_wall_s": cold["wall_s"],
            "wall_s": statistics.median(p["wall_s"] for p in untraced),
            "op_p50_s": deciles[4],
            "op_p90_s": deciles[8],
            "peak_rss_mb": peak_rss / MB,
        })
    print(f"error_rate: {len(failed)}/{len(ops)}", flush=True)
    print(json.dumps({"correct": not failed, "attempted": len(ops), "failed": len(failed),
                      "metrics": metrics}), flush=True)
    return 0


def _stop_spark() -> None:
    """Stop the SparkContext, then the JVM the gateway launched, and wait
    for it to exit (its Python workers exit with it)."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
