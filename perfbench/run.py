"""Benchmark of the pipeline engine on this host's cores.

Run from the root of a checkout:

    python3 perfbench/run.py --workload kmz_analyze --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --report            # every workload, a table

Each run is one closed-loop client: a single worker process that issues one
operation at a time on ``local[N]``, N = the cores this process may use.
The worker sets up a session, runs one cold pass, then warm passes until
``--seconds`` have gone by, and checks every output.  Inputs are generated
from ``--seed`` into a scratch directory inside ``perfbench/`` and removed
afterwards; the program receives only those files.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json.  ``--trace 1``
runs one worker with the event log on whose warm passes alternate between
traced (spans around each layer's public functions, Spark jobs labelled
``workload:layer``) and untraced; it reports the per-layer metrics plus the
tracing overhead, the difference of the two kinds of pass.

The last line on stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  A record with host and config metadata, every
metric and, for traced runs, the per-layer table and the span file, goes
under ``perfbench/records/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)

import layers  # noqa: E402
import workloads  # noqa: E402

# Input sizes.  The KMZ corpus is ``kmzgen.PIPELINES`` pipelines; the
# registry tables are at scale factor 0.01.
REGISTRY_SF = 0.01
WORKER_TIMEOUT_S = 160
# Warm passes per run, at least: the registry pass is short and made of many
# small jobs, so its median needs three passes to shrug off a burst of host
# contention; one KMZ pass already takes longer than a run measures.
MIN_WARM = {"kmz_analyze": 1, "registry": 3}
RSS_PERIOD_S = 0.2
# The session factory's default driver heap is 8g.  With that much room the
# JVM grows its heap lazily, and the peak resident memory reads when the
# collector happened to run more than what the program holds: on 4 cores
# and 15 GB its quartile distance over ten seeds was 0.18-0.20 of the
# median, against 0.05-0.15 with a 2g heap, at about the same pass_s.
DRIVER_MEM = "2g"


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def make_inputs(workload: str, seed: int, work: str) -> tuple[dict, dict]:
    """Generate the workload's inputs; returns (worker inputs, sizes)."""
    if workload == "kmz_analyze":
        import kmzgen

        corpus = kmzgen.generate(seed)
        path = os.path.join(work, "corpus.kmz")
        with open(path, "wb") as f:
            f.write(corpus.kmz)
        manifest = {
            "pipelines": corpus.stats["pipelines"],
            "lines": [ll.tolist() for ll in corpus.lines],
            "planted_pairs": corpus.planted_pairs,
        }
        return {"kmz": path, "manifest": manifest}, corpus.stats
    import tablegen

    data = os.path.join(work, "tables")
    rows = tablegen.write(seed, REGISTRY_SF, data)
    names = workloads.RELATIONAL + workloads.ITERATIVE
    return ({"data_dir": data, "queries": names},
            {"seed": seed, "sf": REGISTRY_SF, "rows": rows, "queries": names})


class TreeRss:
    """Samples the summed resident memory of a process and all of its
    descendants (driver, JVM, Python workers) from /proc.  Keeps the peak
    until the file ``until`` appears, and every process seen to the end."""

    def __init__(self, pid: int, until: str):
        self.pid = pid
        self.until = until
        self.peak = 0
        self.seen: set[int] = set()
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, stack = [], [self.pid]
        while stack:
            p = stack.pop()
            out.append(p)
            stack.extend(children.get(p, []))
        return out

    def _sample(self) -> None:
        done = os.path.exists(self.until)
        total = 0
        for p in self._tree():
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
            self.seen.add(p)
        # a sample that overlaps the file's creation is not counted either
        if not done and not os.path.exists(self.until):
            self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(RSS_PERIOD_S)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _reap(pids: set[int], grace: float = 10.0) -> None:
    """Wait for every process the worker started to end; kill stragglers."""
    deadline = time.monotonic() + grace
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, 9)
            except OSError:
                pass
    while any(_alive(p) for p in pids) and time.monotonic() < deadline + 5:
        time.sleep(0.1)


def _spark_conf(work: str, traced: bool) -> str:
    """Benchmark-owned launcher config; only the traced run logs events."""
    conf = os.path.join(work, "conf-traced" if traced else "conf")
    os.makedirs(conf, exist_ok=True)
    lines = ["spark.ui.showConsoleProgress false"]
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        lines += ["spark.eventLog.enabled true",
                  f"spark.eventLog.dir file://{log_dir}",
                  "spark.eventLog.compress false",
                  "spark.eventLog.rolling.enabled false"]
    else:
        lines.append("spark.eventLog.enabled false")
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return conf


def run_worker(workload: str, inputs: dict, work: str, seconds: float,
               traced: bool, min_warm: int) -> dict:
    tag = "traced" if traced else "plain"
    tmp = os.path.join(work, f"tmp-{tag}")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(_cores()),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_CONF_DIR": _spark_conf(work, traced),
        "SPARK_LOCAL_DIRS": os.path.join(work, f"spark-local-{tag}"),
        "TMPDIR": tmp,
        "SPARK_SUBMIT_OPTS": (env.get("SPARK_SUBMIT_OPTS", "")
                              + f" -Djava.io.tmpdir={tmp}").strip(),
    })
    cfg = {
        "workload": workload, "inputs": inputs, "seconds": seconds,
        "trace": traced, "min_warm": min_warm,
        "work_dir": os.path.join(work, f"out-{tag}"),
        "result_path": os.path.join(work, f"result-{tag}.json"),
        "spans_path": os.path.join(work, "spans.jsonl"),
        "passes_done_path": os.path.join(work, f"passes-done-{tag}"),
    }
    os.makedirs(cfg["work_dir"], exist_ok=True)
    cfg_path = os.path.join(work, f"config-{tag}.json")
    log_path = os.path.join(work, f"worker-{tag}.log")
    cfg["t_spawn"] = time.monotonic()
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
            stdout=log, stderr=subprocess.STDOUT)
        rss = TreeRss(proc.pid, cfg["passes_done_path"])
        rss.start()
        try:
            rc = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            rc = proc.wait()
        finally:
            rss.stop()
            _reap(rss.seen)
    with open(log_path) as f:
        log_text = f.read()
    if rc != 0 or not os.path.exists(cfg["result_path"]):
        raise RuntimeError(f"worker exited with {rc}:\n{log_text[-4000:]}")
    with open(cfg["result_path"]) as f:
        res = json.load(f)
    if res["failed"]:
        # the worker logs each failed operation with its traceback
        print(log_text[-8000:], file=sys.stderr)
    res["peak_rss_mb"] = rss.peak / 2**20
    return res


def _source_sha256() -> str:
    """Digest of the package sources, which names the code measured even
    where the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "pipeline_calculator_v3_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(d, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def _git_sha() -> str | None:
    try:
        return subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10, check=True).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return None  # the checkout need not be a git repository


def _percentile_summary(samples: list[float]) -> dict:
    """Median, sample count, and the highest of p90/p99 that has at least
    ten samples beyond it (absent when neither has)."""
    out = {"median": statistics.median(samples), "n": len(samples)}
    for p in (99, 90):
        if len(samples) * (100 - p) / 100 >= 10:
            q = statistics.quantiles(samples, n=100)[p - 1]
            out[f"p{p}"] = q
            break
    return out


def end_to_end(res: dict) -> dict:
    warm = res["passes"][1:]
    return {
        "setup_s": res["setup_s"],
        "cold_pass_s": res["passes"][0],
        "pass_s": statistics.median(warm),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    bench = _benchmark()
    why = {w["name"]: w["why"] for w in bench["workloads"]}
    scratch = os.path.join(HERE, ".work")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=scratch)
    try:
        t = time.monotonic()
        inputs, sizes = make_inputs(workload, seed, work)
        gen_s = time.monotonic() - t
        # a traced run needs a settling pass, then a traced and an untraced
        # warm pass (see worker.py)
        res = run_worker(workload, inputs, work, seconds, trace,
                         min_warm=max(MIN_WARM[workload], 3 if trace else 1))
        attempted, failed = res["attempted"], res["failed"]
        record = {
            "workload": workload, "why": why[workload],
            "seed": seed, "seconds": seconds, "trace": trace,
            "input_generation_s": gen_s, "inputs": sizes,
            "meta": _meta(res, seed),
            "passes": res["passes"],
            "error_rate": failed / max(attempted, 1),
        }
        if trace:
            units = {m["name"]: m["unit"] for m in bench["per_layer"]}
            per_layer, table = layers.per_layer(
                workload, res, os.path.join(work, "eventlog"), _cores(), units)
            metrics = {m["name"]: per_layer.get(m["name"], 0.0)
                       for m in bench["per_layer"]}
            record["traced_passes"] = res["traced"]
            record["per_layer"] = table
            spans_out = _record_path(workload, seed, trace, ".spans.jsonl")
            shutil.copyfile(os.path.join(work, "spans.jsonl"), spans_out)
            record["spans_file"] = os.path.relpath(spans_out, ROOT)
        else:
            e2e = end_to_end(res)
            record["end_to_end"] = e2e
            record["pass_s"] = _percentile_summary(res["passes"][1:])
            metrics = {m["name"]: e2e[m["name"]] for m in bench["end_to_end"]}
            units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        record["attempted"], record["failed"] = attempted, failed
        with open(_record_path(workload, seed, trace, ".json"), "w") as f:
            json.dump(record, f, indent=1)
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            "error_rate": failed / max(attempted, 1),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _record_path(workload: str, seed: int, trace: bool, suffix: str) -> str:
    d = os.path.join(HERE, "records")
    os.makedirs(d, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    return os.path.join(d, f"{workload}-seed{seed}-trace{int(trace)}-{stamp}{suffix}")


def _meta(res: dict, seed: int) -> dict:
    import pyarrow

    return {
        "nproc": _cores(),
        "SPARK_GRAFT_CPUS": _cores(),
        **res["conf"],
        "pyarrow_version": pyarrow.__version__,
        "python_version": sys.version.split()[0],
        "git_sha": _git_sha(),
        "source_sha256": _source_sha256(),
        "seed": seed,
        "host_mem_gb": os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30,
    }


def _check_checkout() -> None:
    pkg = os.path.join(ROOT, "pipeline_calculator_v3_spark", "__main__.py")
    if not os.path.isfile(pkg) or not os.path.isfile(os.path.join(ROOT, "BENCHMARK.json")):
        sys.exit("perfbench: run from the root of a checkout of the engine "
                 "(pipeline_calculator_v3_spark/ and BENCHMARK.json not found)")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=None)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--report", action="store_true",
                   help="run every workload untraced and print a table")
    args = p.parse_args(argv)
    _check_checkout()
    seconds = args.seconds or _benchmark()["run_seconds"]
    if args.report:
        for wl in sorted(workloads.WORKLOADS):
            out = run(wl, args.seed, seconds, False)
            m = out["metrics"]
            print(f"{wl}: " + "  ".join(
                f"{k}={v['value']:.4g} {v['unit']}" for k, v in m.items())
                + f"  error_rate={out['error_rate']:.4g} fraction", flush=True)
        return 0
    if not args.workload:
        p.error("--workload is required unless --report is given")
    out = run(args.workload, args.seed, seconds, bool(args.trace))
    for k, v in out["metrics"].items():
        print(f"{k} = {v['value']:.6g} {v['unit']}", file=sys.stderr)
    print(f"error_rate = {out.pop('error_rate'):.6g} fraction", file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
