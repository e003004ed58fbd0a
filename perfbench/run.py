"""End-to-end benchmark of the curation CLI.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Each run generates its corpus from
``--seed`` and writes it as parquet, records the environment (a
``bench.calibrate()`` CPU burn, ``nproc``, library versions, corpus
sizes), then starts fresh processes (``child.py``) that each run
``cli.main -r RECIPE -i CORPUS -o OUT --cores 4``: as many as fit in
``--seconds``, at least one. Every output is checked (``checks.py``).

``--trace 0`` reports the end-to-end metrics, as medians over the
processes:

- ``docs_per_s``, ``input_mb_per_s``: documents and UTF-8 text MB
  (1e6 bytes) of the input over the wall time of ``cli.main``, set-up
  excluded;
- ``setup_s``: process spawn -> imports + ``session.get_spark`` +
  ``recipe.load_recipe`` done;
- ``peak_rss_mb``: peak of the RSS summed over the process tree (the
  CLI's Python process, its JVM and the Python workers), sampled every
  0.2 s, in 1e6 bytes;
- ``output_bytes_per_input_byte``: bytes under the output directory over
  the input parquet bytes.

A run that exits non-zero, times out or fails its output check counts in
``failed``; ``failed / attempted`` is the failure share.

``--trace 1`` runs one untraced process, then one traced process
(``spans.py``, with the Spark event log on) and reports the per-layer
metrics from the spans and the event log (``eventlog.py``). It writes the
spans and the layer metrics to ``.perfbench_out/``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (``{name: {value, unit}}``).
It is printed only once every process the run started has ended; on
SIGTERM the run ends them too and prints no result.
Outside a checkout of the repository the benchmark exits with code 2 and
prints no result.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.metadata
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

CORES = 4
SPARK_MEM = "2g"  # JVM heap; the package default, 24g, exceeds a small host
RUN_LIMIT_S = 170  # every process of a run ends within this

WORKLOADS = {
    # distinct documents; every drop rule of the recipe fires on a fixed
    # share, so the Arrow stats, decision chain, scrub and sinks all work
    "webtext_rules": {
        "recipe": "recipes/webtext_quality.toml",
        "corpus": ("rules", 4000),
        "check": "oracle",
    },
    # pre-pass chain on planted boilerplate / paragraphs / near-dups and a
    # Zipf-headed category; the rules and sinks see only the survivors
    "full_curation": {
        "recipe": "recipes/full_curation.toml",
        "corpus": ("curation", 5000),
        "check": "invariants",
    },
    # testing.synth: 700 distinct texts tiled, so every per-worker word
    # cache and per-batch dictionary stays small and hot
    "webtext_tiled": {
        "recipe": "recipes/webtext_quality.toml",
        "corpus": ("tiled", 20000),
        "check": "oracle",
    },
}

END_TO_END = {
    "docs_per_s": "docs/s",
    "input_mb_per_s": "MB/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "output_bytes_per_input_byte": "ratio",
}


def _env(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    # temporary files (pyspark, JVM, Spark block manager) stay in ``work``
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_DRIVER_MEM=SPARK_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    return env


def _make_corpus(kind: str, n: int, seed: int) -> tuple:
    if kind == "tiled":
        from datacurator_jl_spark.testing.synth import synth_documents_pandas

        return synth_documents_pandas(n, seed=seed), {}
    import corpus

    return corpus.generate(kind, n, seed)


# ---------------------------------------------------------------- processes


def _proc_table() -> dict[int, tuple[str, int, int]]:
    """pid -> (state, ppid, session id) for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                s = fh.read()
        except OSError:
            continue
        f = s[s.rindex(")") + 2 :].split()
        out[int(d)] = (f[0], int(f[1]), int(f[3]))
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _tree_rss(root: int, page: int) -> int:
    """RSS summed over ``root`` and its descendants. A child of the JVM
    that still runs the java binary is the JVM spawning a helper command
    (named after the spawning thread): until it execs it shares the JVM's
    memory, so it is skipped, not counted twice."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (_state, ppid, _sid) in table.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        exe = _exe(pid)
        if os.path.basename(exe) == "java" and exe == _exe(table.get(pid, ("", 0))[1]):
            continue
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class _PeakRSS(threading.Thread):
    def __init__(self, pid: int, interval: float = 0.2):
        super().__init__(daemon=True)
        self.pid, self.interval, self.peak = pid, interval, 0
        self.done = threading.Event()

    def run(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        while not self.done.wait(self.interval):
            self.peak = max(self.peak, _tree_rss(self.pid, page))


def _become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (Linux
    ``PR_SET_CHILD_SUBREAPER``): a process whose parent ends, such as a
    Python worker daemon after its JVM, is re-parented here rather than to
    init, so ``_end_processes`` can see it and wait for it."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _end_processes(sid: int | None = None, grace: float = 3.0, limit: float = 15.0) -> None:
    """Wait until no process of session ``sid`` (``None``: no descendant of
    this process) is left, reaping the ended ones re-parented here; after
    ``grace`` seconds kill what still runs. Raises if any is left after
    ``limit`` seconds. A session, not a process group, is followed because
    pyspark's worker daemon moves to a process group of its own."""
    me = os.getpid()
    t0 = time.time()
    killed = False
    while True:
        table = _proc_table()
        if sid is None:
            kids: dict[int, list[int]] = {}
            for pid, (_state, ppid, _sid) in table.items():
                kids.setdefault(ppid, []).append(pid)
            left, todo = [], list(kids.get(me, []))
            while todo:
                pid = todo.pop()
                left.append(pid)
                todo.extend(kids.get(pid, []))
        else:
            left = [pid for pid, (_st, _pp, s) in table.items() if s == sid]
        for pid in left:
            if table[pid][0] == "Z" and table[pid][1] == me:
                with contextlib.suppress(ChildProcessError):
                    os.waitpid(pid, os.WNOHANG)
        if not left:
            return
        if not killed and time.time() - t0 > grace:
            for pid in left:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            killed = True
        if time.time() - t0 > limit:
            raise RuntimeError(f"processes left running: {sorted(left)}")
        time.sleep(0.05)


def _run_child(args: list[str], work: str, env: dict, tag: str, deadline: float) -> dict:
    """Start child.py, sample its tree's RSS, wait; returns its result
    JSON plus ``peak_rss`` and ``error`` (None when it ran to the end)."""
    result = os.path.join(work, f"{tag}.json")
    log_path = os.path.join(work, f"{tag}.log")
    with open(log_path, "w") as log:
        spawn = time.time()
        p = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), result, repr(spawn), *args],
            cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        sampler = _PeakRSS(p.pid)
        sampler.start()
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
            error = None if p.returncode == 0 else f"child exited {p.returncode}"
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            error = "timed out"
        sampler.done.set()
        sampler.join()
        _end_processes(sid=p.pid)
    out = {}
    if error is None:
        with open(result) as fh:
            out = json.load(fh)
        if out.get("rc") != 0:
            error = f"cli.main returned {out.get('rc')}"
    if error:
        with open(log_path) as fh:
            sys.stderr.write(f"[{tag}] {error}\n" + fh.read()[-3000:])
    out.update(peak_rss=sampler.peak, error=error)
    return out


# ------------------------------------------------------------------ metrics


def _layer_metrics(traced: dict, untraced_wall: float, eventlog_dir: str, text_bytes: int) -> dict:
    import eventlog
    import spans

    spans_ = traced["spans"]
    by_id = {s["id"]: s for s in spans_}

    def wall(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans_ if s["name"] == name)

    def attr(name: str, key: str) -> float:
        return sum(s["attrs"].get(key, 0) for s in spans_ if s["name"] == name)

    def ancestors(s: dict) -> set[str]:
        out = set()
        while s is not None:
            out.add(s["name"])
            s = by_id.get(s["parent"])
        return out

    def under(name: str) -> set[str]:
        """Names of the spans at or below the spans called ``name``."""
        return {s["name"] for s in spans_ if name in ancestors(s)}

    def work(name: str) -> float:
        """Wall of the spans called ``name`` less the dedup quality probe
        run inside them."""
        probe = sum(
            s["end"] - s["start"]
            for s in spans_
            if s["name"] == spans.QUALITY and name in ancestors(s)
        )
        return wall(name) - probe

    (log,) = os.listdir(eventlog_dir)
    groups = eventlog.read(os.path.join(eventlog_dir, log))
    scan, sink = groups.get("sources.scan", Counter()), groups.get("sinks.write", Counter())
    # the plain CLI path: every group but the ladder's extra passes
    cli_path = [g for g in groups if g not in spans.LADDER]
    cli = eventlog.total(groups, cli_path)

    main = next(s for s in spans_ if s["name"] == "cli.main")
    imports = next(s for s in spans_ if s["name"] == "setup.imports")
    layer_sum = imports["end"] + sum(
        s["end"] - s["start"] for s in spans_ if s["parent"] == main["id"]
    )
    m = {
        "session.start_s": (wall("session.start"), "s"),
        "recipe.load_s": (wall("recipe.load"), "s"),
        "sources.scan_s": (wall("sources.scan"), "s"),
        "sources.input_bytes": (scan["files_read_bytes"], "bytes"),
        "sources.scan_tasks": (scan["tasks"], "count"),
        "engine.apply_s": (work("engine.apply"), "s"),
        "engine.apply_jobs": (
            eventlog.total(groups, under("engine.apply") - {spans.QUALITY})["jobs"],
            "count",
        ),
    }
    for _mod, _fn, label in spans.OPERATORS:
        op = f"operators.{label}"
        m[f"{op}.s"] = (work(op), "s")
        m[f"{op}.rows_out"] = (attr(op, "rows_out"), "count")
        m[f"{op}.shuffle_bytes"] = (groups.get(op, Counter())["shuffle_write_bytes"], "bytes")
    dq = traced["attrs"].get("dedup", {})
    m["operators.dedup.largest_component"] = (dq.get("largest_component", 0), "count")
    m["operators.dedup.planted_recall"] = (dq.get("planted_recall", 0.0), "ratio")
    m.update(
        {
            "functions.arrow.s": (wall("functions.arrow") - wall("engine.survivors"), "s"),
            "functions.arrow.bytes_to_py": (cli["py_bytes_sent"], "bytes"),
            "functions.arrow.bytes_from_py": (cli["py_bytes_returned"], "bytes"),
            "functions.arrow.py_run_ms": (cli["py_run_ms"], "ms"),
            "functions.arrow.py_init_ms": (cli["py_init_ms"], "ms"),
            # the workers start once, in whichever Arrow pass runs first
            "functions.arrow.py_start_ms": (
                eventlog.total(groups, list(groups))["py_start_ms"], "ms"),
            "functions.arrow.text_passes": (cli["py_bytes_sent"] / text_bytes, "ratio"),
            "engine.decide_s": (wall("engine.decide") - wall("functions.arrow"), "s"),
            "engine.quit_gate_s": (wall("engine.quit_gate"), "s"),
            "sinks.write_s": (wall("sinks.write"), "s"),
            "sinks.jobs": (sink["jobs"], "count"),
            "sinks.output_bytes": (sink["written_bytes"], "bytes"),
            "sinks.persist_read_bytes": (sink["persist_read_bytes"], "bytes"),
            "jvm.gc_ms": (cli["gc_ms"], "ms"),
            "exec.spill_bytes": (cli["spill_bytes"], "bytes"),
            "cli.jobs": (cli["jobs"], "count"),
            "cli.layer_sum_ratio": (layer_sum / traced["wall_s"], "ratio"),
            "trace.overhead_s": (traced["wall_s"] - untraced_wall, "s"),
        }
    )
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def _declared(kind: str) -> set[str] | None:
    """Metric names BENCHMARK.json lists under ``kind``, if it is there."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as fh:
        return {m["name"] for m in json.load(fh)[kind]}


# --------------------------------------------------------------------- main


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S

    wl = WORKLOADS[args.workload]
    recipe = os.path.join(ROOT, wl["recipe"])
    if not (
        os.path.isfile(recipe)
        and os.path.isdir(os.path.join(ROOT, "datacurator_jl_spark"))
        and os.path.isfile(os.path.join(ROOT, "bench.py"))
    ):
        print(f"not a checkout of the repository: {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    _become_subreaper()
    # on SIGTERM too, end every process started and remove the work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = _run(args, wl, recipe, work, t_start, deadline)
    finally:
        # the result is printed only once every process started has ended
        try:
            _end_processes()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1
    print(json.dumps(result))
    return 0


def _run(args, wl, recipe, work, t_start, deadline) -> dict | None:
    """Runs the workload; returns the result object, or None if no result
    can be given."""
    import checks

    env = _env(work)
    # the calibration burn runs beside the (single-threaded) corpus build
    calib = subprocess.Popen(
        [sys.executable, "-c", "import bench; print(bench.calibrate())"],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
    )
    kind, n_docs = wl["corpus"]
    docs, truth = _make_corpus(kind, n_docs, args.seed)
    corpus_dir = os.path.join(work, "corpus")
    import corpus

    parquet_bytes = corpus.write_parquet(docs, corpus_dir, n_files=2 * CORES)
    text_bytes = int(docs["text"].str.encode("utf-8").str.len().sum())
    truth_path = os.path.join(work, "truth.json")
    with open(truth_path, "w") as fh:
        json.dump({"near_dups": truth.get("near_dups", [])}, fh)
    calib_s = float(calib.communicate()[0].strip())

    decided: dict = {}
    if wl["check"] == "oracle":
        labels = checks.oracle_labels(docs, recipe, workers=CORES)
        decided = labels["rule_id"].value_counts().sort_index().to_dict()

        def check(out_dir: str) -> list[str]:
            return checks.check_oracle(out_dir, docs, labels)
    else:
        from datacurator_jl_spark.recipe import load_recipe

        spec = load_recipe(recipe)

        def check(out_dir: str) -> list[str]:
            return checks.check_invariants(
                out_dir, docs, spec.blocklist, spec.domain_cap, spec.domain_cap_col
            )

    print(json.dumps({"env": {
        "workload": args.workload, "seed": args.seed, "nproc": os.cpu_count(),
        "cores": CORES, "spark_mem": SPARK_MEM, "calibrate_s": calib_s,
        "pyspark": importlib.metadata.version("pyspark"),
        "pyarrow": importlib.metadata.version("pyarrow"),
        "docs": len(docs), "text_bytes": text_bytes, "parquet_bytes": parquet_bytes,
        "oracle_rule_counts": decided,
    }}), flush=True)

    def cli_args(out_dir: str) -> list[str]:
        return ["-r", recipe, "-i", corpus_dir, "-o", out_dir, "--cores", str(CORES)]

    runs: list[dict] = []
    t_measure = time.time()
    while True:
        t_child = time.time()
        tag = f"run{len(runs)}"
        out_dir = os.path.join(work, f"out_{tag}")
        r = _run_child(["--", *cli_args(out_dir)], work, env, tag, deadline)
        if r["error"] is None:
            r["out_bytes"] = checks.output_bytes(out_dir)
            problems = check(out_dir)
            if problems:
                r["error"] = "; ".join(problems)
                print(f"[{tag}] output check failed: {r['error']}", file=sys.stderr)
        shutil.rmtree(out_dir, ignore_errors=True)
        runs.append(r)
        print(json.dumps({tag: r}), flush=True)
        # start another process only if it can end within --seconds
        now = time.time()
        if args.trace or now - t_measure + (now - t_child) > args.seconds:
            break

    # a process that ran to the end but failed its output check still has
    # valid timings: it is reported, with correct = false
    timed = [r for r in runs if "out_bytes" in r]
    failed = sum(r["error"] is not None for r in runs)
    attempted = len(runs)
    if not timed:
        print("no run of cli.main completed", file=sys.stderr)
        return None

    if args.trace:
        ev_dir = os.path.join(work, "eventlog")
        os.makedirs(ev_dir)
        out_dir = os.path.join(work, "out_traced")
        traced = _run_child(
            ["--trace", ev_dir, truth_path, "--", *cli_args(out_dir)], work, env, "traced", deadline
        )
        attempted += 1
        if "spans" not in traced:
            return None
        problems = check(out_dir) if traced["error"] is None else []
        if problems:
            traced["error"] = "; ".join(problems)
            print(f"[traced] output check failed: {traced['error']}", file=sys.stderr)
        failed += traced["error"] is not None
        metrics = _layer_metrics(traced, timed[0]["wall_s"], ev_dir, text_bytes)
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({"spans": traced["spans"], "attrs": traced["attrs"],
                       "metrics": metrics}, fh, indent=1)
    else:
        cli_s = statistics.median(r["cli_s"] for r in timed)
        values = {
            "docs_per_s": len(docs) / cli_s,
            "input_mb_per_s": text_bytes / 1e6 / cli_s,
            "setup_s": statistics.median(r["setup_s"] for r in timed),
            "peak_rss_mb": statistics.median(r["peak_rss"] for r in timed) / 1e6,
            "output_bytes_per_input_byte": statistics.median(
                r["out_bytes"] / parquet_bytes for r in timed),
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    declared = _declared("per_layer" if args.trace else "end_to_end")
    if declared is not None and declared != set(metrics):
        print(f"metrics differ from BENCHMARK.json: {sorted(declared ^ set(metrics))}",
              file=sys.stderr)
        return None
    # failed_frac is the sixth end-to-end metric; it is 0 on a correct run,
    # so BENCHMARK.json carries it as the result's attempted/failed counts
    print(json.dumps({"failed_frac": {"value": failed / attempted, "unit": "ratio"},
                      "wall_s": time.time() - t_start}), flush=True)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
