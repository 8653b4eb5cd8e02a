"""Benchmark of the validation job, ``python -m filters_spark.job``.

Run from the root of a checkout::

    python3 perfbench/run.py --workload suite_clean --seed 1 --seconds 30 --trace 0

Each run has three parts:

1. Set-up: generate the workload's transcripts and baseline from
   ``--seed`` (``gen.py``), and compute the expected answers with DuckDB
   (``oracle.py``).  With ``--trace 0`` set-up runs three times and
   ``setup_s`` is the median; the traced run sets up once.
2. ``--trace 0``: closed loop, one client.  Launch the job as a fresh
   process on ``local[<cpus>]``, wait for it to exit, check its outputs,
   and launch the next one, until the next would not end within
   ``--seconds``.  ``resume_job`` launches the resumable job, SIGKILLs
   its process group once enough buckets are committed, and reruns the
   same command to completion; one such cycle is one sample.  Each
   sample is timed on the wall clock and on the CPU clock of the job's
   process tree; the metrics are medians over the run's samples on the
   CPU clock (``turns_per_cpu_s``, ``job_cpu_s``, ``recovery_cpu_s``),
   since on a shared host the wall clock moves with the hypervisor's
   steal.  The wall figures are printed beside them.
3. ``--trace 1``: the traced run.  ``layers.py`` times each layer's
   public function in-process, then one job (or cycle) runs with Spark's
   event log on; ``eventlog.py`` reads the logs.

Workload definitions, with the reason each was chosen, are in
``workloads.json``.  Human-readable lines go to stdout first; the last
line is one JSON object: ``correct``, ``attempted``, ``failed`` and the
metrics (end-to-end ones with ``--trace 0``, per-layer ones with
``--trace 1``).  Everything the run writes stays under ``.bench_work/``
in the checkout.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import gen  # noqa: E402
import layers as layers_mod  # noqa: E402
import oracle  # noqa: E402

SETUP_REPS = 3
#: a run must end within this many seconds of its start
RUN_DEADLINE_S = 170.0
#: a job whose steal exceeds this share of its wall x cpus is flagged
STEAL_BOUND = 0.05
POLL_S = 0.05
PR_SET_CHILD_SUBREAPER = 36
RSS_EVERY_S = 0.25
#: the job's default ``--n-buckets``; the oracle keys verdicts by it
N_BUCKETS = 64
#: ``--buckets-per-job`` of the resumable job
BUCKETS_PER_JOB = 32
#: the baseline table has a quarter of the input's conversations, as
#: ``job.py --synthetic`` does, always from this seed
BASELINE_SEED = 7


# -- host sizing -------------------------------------------------------------


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    """An eighth of MemTotal, between 1 and 4 GiB: the job runs beside
    its Python workers and other tenants of the host."""
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                return max(1024, min(4096, total_mb // 8))
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def steal_seconds() -> float:
    """CPU time the hypervisor stole from this host so far, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def group_rss_mb(pgid: int) -> float:
    """Resident memory of every process in process group ``pgid``."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:
            total += int(fields[21]) * page
    return total / 2**20


def children_cpu_s() -> float:
    """User plus system CPU seconds of every descendant reaped so far.

    As child subreaper this process reaps the job's JVM and Python
    workers too, so the figure covers the job's whole process tree.  The
    kernel keeps the hypervisor's steal out of it."""
    r = resource.getrusage(resource.RUSAGE_CHILDREN)
    return r.ru_utime + r.ru_stime


def become_subreaper() -> None:
    """Adopt orphaned descendants (the JVM of a killed job, its Python
    workers), so ``stop_group`` can reap them instead of leaving zombies
    that still count as members of their process group."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_group(pgid: int, timeout: float = 30.0) -> None:
    """SIGKILL what is left of a process group and wait until every
    member has ended and been reaped."""
    end = time.time() + timeout
    while True:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        reap()
        if time.time() > end:
            raise RuntimeError(f"process group {pgid} survived SIGKILL")
        time.sleep(POLL_S)


# -- one job process ---------------------------------------------------------


class Bench:
    def __init__(self, root: str, workload: str, spec: dict, seed: int) -> None:
        self.root = root
        self.workload = workload
        self.spec = spec
        self.seed = seed
        self.work = os.path.join(root, ".bench_work")
        self.run_dir = os.path.join(self.work, "run")
        self.cpus = host_cpus()
        self.heap_mb = driver_heap_mb()
        self.started = time.time()
        self.deadline = self.started + RUN_DEADLINE_S
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.lines: list[str] = []
        #: process group of the job process running now, if any
        self.active: int | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def say(self, line: str) -> None:
        self.lines.append(line)

    # -- set-up --------------------------------------------------------------

    def setup(self, reps: int) -> list[float]:
        """Generate inputs and expected answers ``reps`` times; returns
        each repetition's seconds."""
        s = self.spec
        times = []
        for _ in range(reps):
            for d in ("input", "baseline"):
                shutil.rmtree(self.path(d), ignore_errors=True)
            t0 = time.perf_counter()
            self.turns = gen.write_transcripts(
                self.path("input"), s["n_convs"], self.seed, **s["generator"]
            )
            gen.write_transcripts(
                self.path("baseline"),
                s["n_convs"] // 4,
                BASELINE_SEED,
                **gen.BASELINE_OFF,
            )
            gen.write_buckets(self.path("buckets.parquet"), s["n_convs"], N_BUCKETS)
            self.expected = oracle.expected(
                self.path("input"), self.path("baseline"), self.path("buckets.parquet")
            )
            times.append(time.perf_counter() - t0)
        return times

    # -- processes -----------------------------------------------------------

    def env(self, event_dir: str | None) -> dict:
        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {"spark.ui.enabled": "false", "spark.local.dir": tmp}
        if event_dir is not None:
            os.makedirs(event_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.eventLog.dir": "file://" + event_dir,
                }
            )
        args = [f"--master local[{self.cpus}]", f"--driver-memory {self.heap_mb}m"]
        args += [f"--conf {k}={v}" for k, v in conf.items()]
        env = dict(os.environ)
        env.update(
            {
                "PYSPARK_SUBMIT_ARGS": " ".join(args) + " pyspark-shell",
                "PYTHONPATH": self.root,
                "SPARK_LOCAL_DIRS": tmp,
                "TMPDIR": tmp,
                # every JVM of the job, the spark-submit launcher included,
                # keeps its temp files in the checkout
                "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            }
        )
        return env

    def launch(self, argv: list[str], label: str, event_dir: str | None):
        out = open(self.path(f"{label}.out"), "w", encoding="utf-8")
        err = open(self.path(f"{label}.err"), "w", encoding="utf-8")
        try:
            cpu0 = children_cpu_s()
            t0 = time.time()
            p = subprocess.Popen(
                [sys.executable, *argv],
                cwd=self.root,
                env=self.env(event_dir),
                stdout=out,
                stderr=err,
                start_new_session=True,
            )
        finally:
            out.close()
            err.close()
        self.active = p.pid
        return p, t0, cpu0

    def wait(
        self, p, t0: float, cpu0: float, kill_when=None, sample_rss: bool = False
    ) -> dict:
        """Wait for ``p`` to exit, killing its process group when
        ``kill_when()`` turns true or the run's deadline passes.  ``t0``
        and ``cpu0`` are the wall clock and ``children_cpu_s()`` at launch."""
        steal0 = steal_seconds()
        peak, next_rss = 0.0, 0.0
        killed = timed_out = False
        while p.poll() is None:
            now = time.time()
            if now > self.deadline:
                timed_out = True
                break
            if kill_when is not None and kill_when():
                killed = True
                kill_t = time.time()
                break
            if sample_rss and now >= next_rss:
                peak = max(peak, group_rss_mb(p.pid))
                next_rss = now + RSS_EVERY_S
            time.sleep(POLL_S)
        end = time.time()
        if killed or timed_out:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        stop_group(p.pid)  # the JVM and workers outlive the driver briefly
        self.active = None
        steal1 = steal_seconds()
        r = {
            "wall": end - t0,
            "cpu": children_cpu_s() - cpu0,
            "code": p.returncode,
            "killed": killed,
            "timed_out": timed_out,
            "steal": steal1 - steal0,
            "peak_rss_mb": peak,
        }
        if killed:
            r["kill_t"] = kill_t
        return r

    def job_argv(self, out: str, manifest: str | None) -> list[str]:
        argv = [
            "-m",
            "filters_spark.job",
            "--input",
            self.path("input"),
            "--baseline",
            self.path("baseline"),
            "--output",
            out,
        ]
        if manifest is not None:
            argv += [
                "--manifest",
                manifest,
                "--sketch-cols",
                "conv_id",
                "--hist-cols",
                "text",
                "--buckets-per-job",
                str(BUCKETS_PER_JOB),
            ]
        return argv

    def check(self, label: str, out: str, r: dict) -> bool:
        if r["timed_out"]:
            errs = ["timed out"]
        elif r["code"] != 0:
            errs = [f"exit code {r['code']}"]
        else:
            summary = oracle.summary_line(self.path(f"{label}.out"))
            errs = oracle.check_output(summary, out, self.expected)
        self.errors += [f"{label}: {e}" for e in errs]
        return not errs

    def flag_steal(self, label: str, r: dict) -> None:
        share = r["steal"] / (r["wall"] * self.cpus)
        flag = "  STEAL ABOVE BOUND" if share > STEAL_BOUND else ""
        self.say(
            f"{label}: wall {r['wall']:.3f} s, cpu {r['cpu']:.2f} s, "
            f"steal {r['steal']:.2f} s "
            f"({share:.1%} of {self.cpus} cpus){flag}"
        )

    def oneshot(self, label: str, trace: bool = False) -> dict:
        out = self.path(f"{label}_output")
        events = self.path("events", label) if trace else None
        p, t0, cpu0 = self.launch(self.job_argv(out, None), label, events)
        r = self.wait(p, t0, cpu0, sample_rss=trace)
        r.update(ok=self.check(label, out, r), launch=t0, events=events)
        self.flag_steal(label, r)
        return r

    def cycle(self, label: str, trace: bool = False) -> dict:
        """Kill-and-resume: SIGKILL the resumable job's process group once
        ``kill_at_buckets`` manifest entries are committed, then rerun the
        same command to completion."""
        out = self.path(f"{label}_output")
        manifest = self.path(f"{label}_manifest")
        argv = self.job_argv(out, manifest)
        kill_at = self.spec["kill_at_buckets"]

        def committed() -> int:
            if not os.path.isdir(manifest):
                return 0
            return sum(n.startswith("bucket_") for n in os.listdir(manifest))

        runs = {}
        for part in ("killed", "resumed"):
            name = f"{label}_{part}"
            events = self.path("events", name) if trace else None
            p, t0, cpu0 = self.launch(argv, name, events)
            kill_when = None
            if part == "killed":
                kill_when = lambda: committed() >= kill_at  # noqa: E731
            r = self.wait(p, t0, cpu0, kill_when=kill_when, sample_rss=trace)
            r.update(launch=t0, events=events)
            self.flag_steal(name, r)
            runs[part] = r
            if part == "killed":
                if not r["killed"]:
                    self.errors.append(f"{name}: exit {r['code']} before the kill")
                    return {**r, "ok": False, "killed_run": r, "resumed_run": r}
                ts = layers_mod.manifest_ts(manifest)
                r["buckets_at_kill"] = len(ts)
                r["lost_s"] = r["kill_t"] - max(ts.values())
                self.say(
                    f"{name}: killed with {r['buckets_at_kill']} buckets committed, "
                    f"{r['lost_s']:.3f} s after the last commit"
                )
        k, r = runs["killed"], runs["resumed"]
        return {
            "wall": k["wall"] + r["wall"],
            "cpu": k["cpu"] + r["cpu"],
            "ok": self.check(f"{label}_resumed", out, r),
            "killed_run": k,
            "resumed_run": r,
            "manifest": manifest,
            "peak_rss_mb": max(k["peak_rss_mb"], r["peak_rss_mb"]),
            "steal": k["steal"] + r["steal"],
        }

    def sample(self, label: str, trace: bool = False) -> dict:
        self.attempted += 1
        if self.spec["job"] == "resume":
            r = self.cycle(label, trace)
        else:
            r = self.oneshot(label, trace)
        if not r["ok"]:
            self.failed += 1
        return r


# -- the two kinds of run ----------------------------------------------------


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def measure(b: Bench, seconds: float, setup_s: float) -> dict:
    samples: list[dict] = []
    start = time.time()
    while True:
        samples.append(b.sample(f"job{len(samples)}"))
        typical = statistics.median(s["wall"] for s in samples)
        now = time.time()
        if now - start + typical > seconds or now + 1.5 * typical > b.deadline:
            break
    # The wall figures move with the host's steal by more than any bound
    # allows, so they are printed; the gated metrics are the same figures
    # on the job's CPU clock, which steal does not touch.
    out = {}
    for clock in ("wall", "cpu"):
        values = [s[clock] for s in samples]
        q1, med, q3 = quartiles(values)
        b.say(
            f"job_{clock}_s: median {med:.3f} s, quartiles {q1:.3f}-{q3:.3f} s, "
            f"n={len(values)}"
        )
        if b.spec["job"] == "resume":
            recovery = statistics.median(s["resumed_run"][clock] for s in samples)
        else:
            recovery = med  # no checkpoint: recovering from a kill is a full rerun
        suffix = "_s" if clock == "wall" else "_cpu_s"
        out[clock] = {
            f"turns_per{suffix}": (b.turns / med, "1/s"),
            f"job_{clock}_s": (med, "s"),
            f"recovery{suffix}": (recovery, "s"),
        }
    for name, (value, unit) in out["wall"].items():
        b.say(f"{name}: {value} {unit} (not gated)")
    return {**out["cpu"], "setup_s": (setup_s, "s")}


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span duration minus the part of it that its child spans cover."""
    out = {}
    for s in spans:
        kids = [(c["start"], c["end"]) for c in spans if c["parent"] == s["name"]]
        out[s["name"]] = (s["end"] - s["start"]) - eventlog.covered(
            kids, s["start"], s["end"]
        )
    return out


def process_spans(run_id: str, name: str, parent, r: dict, summ: dict) -> list[dict]:
    """A span for one job process and, from its event log, one child
    span per Spark job (so the process span's self time is the time no
    Spark job ran)."""
    end = r["launch"] + r["wall"]
    out = [{"name": name, "start": r["launch"], "end": end, "parent": parent, "run": run_id}]
    for i, j in enumerate(summ["jobs"]):
        out.append(
            {
                "name": f"{name}.spark_job{i}",
                "start": j["start"],
                "end": j["end"],
                "parent": name,
                "run": run_id,
            }
        )
    return out


SPARK_TOTALS = {
    "executor_cpu_s": "s",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "gc_s": "s",
}


def trace(b: Bench, run_id: str) -> dict:
    spec = b.spec
    resume = spec["job"] == "resume"
    tables = {"input": b.path("input"), "baseline": b.path("baseline")}
    cfg = {
        "run_id": run_id,
        **tables,
        "result": b.path("layers.json"),
        # the resumable workload's own cycle times the checkpoint layer
        "checkpoint": None
        if resume
        else {
            "manifest": b.path("layers_manifest"),
            "output": b.path("layers_output"),
            "buckets_per_job": BUCKETS_PER_JOB,
            "sketch_cols": ["conv_id"],
            "hist_cols": ["text"],
        },
    }
    with open(b.path("layers.in.json"), "w", encoding="utf-8") as f:
        json.dump(cfg, f)
    layer_events = b.path("events", "layers")
    layer_argv = [os.path.join(HERE, "layers.py"), b.path("layers.in.json")]
    p, t0, cpu0 = b.launch(layer_argv, "layers", layer_events)
    lr = b.wait(p, t0, cpu0)
    if lr["code"] != 0:
        raise RuntimeError(f"layer run failed (exit {lr['code']})")
    with open(cfg["result"], encoding="utf-8") as f:
        layers = json.load(f)
    metrics = {k: tuple(v) for k, v in layers["metrics"].items()}
    spans = layers["spans"]
    lsum = eventlog.summarize(
        eventlog.read_events(eventlog.log_file(layer_events)), tables
    )

    r = b.sample("traced", trace=True)
    if not r["ok"]:
        raise RuntimeError(f"traced job failed: {b.errors}")
    final = r.get("resumed_run", r)
    jsum = eventlog.summarize(
        eventlog.read_events(eventlog.log_file(final["events"])), tables
    )
    if resume:
        k = r["killed_run"]
        ksum = eventlog.summarize(
            eventlog.read_events(eventlog.log_file(k["events"])), tables
        )
        final_name = "job.resumed"
        end = final["launch"] + final["wall"]
        spans.append(
            {"name": "job", "start": k["launch"], "end": end, "parent": None, "run": run_id}
        )
        spans += process_spans(run_id, "job.killed", "job", k, ksum)
        spans += process_spans(run_id, final_name, "job", final, jsum)
        groups = layers_mod.group_seconds(
            r["manifest"],
            BUCKETS_PER_JOB,
            [ksum["app_start"], jsum["app_start"]],
        )
        metrics["engine.checkpoint.group_s"] = (statistics.median(groups), "s")
        metrics["engine.checkpoint.groups_run"] = (len(groups), "count")
    else:
        final_name = "job"
        spans += process_spans(run_id, final_name, None, final, jsum)

    # The overhead's reference is an untraced sample of the same code and
    # seed, run here; a resume cycle is too long to run twice in one run.
    if time.time() + 1.3 * r["wall"] < b.deadline:
        u = b.sample("untraced")
        b.say(
            f"tracing overhead: traced {r['wall']:.3f} s - untraced "
            f"{u['wall']:.3f} s = {r['wall'] - u['wall']:.3f} s"
        )
    else:
        b.say("tracing overhead: unmeasured, an untraced sample does not fit this run")

    own = self_times(spans)
    groups_by_span = {
        **lsum["by_group"],
        final_name: jsum["by_group"].get(eventlog.NO_GROUP, {}),
    }
    os.makedirs(os.path.join(b.work, "spans"), exist_ok=True)
    span_file = os.path.join(b.work, "spans", f"{b.workload}-seed{b.seed}.json")
    with open(span_file, "w", encoding="utf-8") as f:
        json.dump({"spans": spans, "self_s": own, "spark": groups_by_span}, f)
    b.say(f"spans written to {os.path.relpath(span_file, b.root)}")
    for s in spans:
        if ".spark_job" in s["name"]:
            continue
        g = groups_by_span.get(s["name"]) or {}
        b.say(
            f"span {s['name']}: {s['end'] - s['start']:.3f} s, self {own[s['name']]:.3f} s"
            + "".join(f", {k} {g[k]:.3f}" for k in SPARK_TOTALS if k in g)
        )
    b.say(f"host steal over the traced job: {r['steal']:.2f} s")

    metrics.update(
        {
            "engine.drift.baseline_scans": (jsum["scans"]["baseline"], "count"),
            "job.spark_start_s": (jsum["app_start"] - final["launch"], "s"),
            "job.driver_only_s": (jsum["driver_only_s"], "s"),
            "job.spark_jobs": (jsum["spark_jobs"], "count"),
            "job.input_scans": (jsum["scans"]["input"], "count"),
            **{
                f"spark.{k}": (sum(g.get(k, 0.0) for g in jsum["by_group"].values()), u)
                for k, u in SPARK_TOTALS.items()
            },
            "host.peak_rss_mb": (r["peak_rss_mb"], "MB"),
        }
    )
    return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "filters_spark", "job.py")):
        print("run from the root of a filters_spark checkout", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "workloads.json"), encoding="utf-8") as f:
        workloads = json.load(f)
    if args.workload not in workloads:
        print(f"unknown workload; one of {sorted(workloads)}", file=sys.stderr)
        return 2

    become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    b = Bench(root, args.workload, workloads[args.workload], args.seed)
    shutil.rmtree(b.run_dir, ignore_errors=True)
    os.makedirs(b.run_dir)
    try:
        setup = b.setup(1 if args.trace else SETUP_REPS)
        setup_s = statistics.median(setup)
        b.say(
            f"host: local[{b.cpus}], driver heap {b.heap_mb} MB; "
            f"input {b.turns} turns, {b.expected['n_invalid'] / b.turns:.1%} invalid"
        )
        b.say(f"setup_s: median {setup_s:.3f} s of {', '.join(f'{t:.3f}' for t in setup)}")
        if args.trace:
            metrics = trace(b, f"{args.workload}-{args.seed}-{int(b.started)}")
        else:
            metrics = measure(b, args.seconds, setup_s)
    finally:
        if b.active is not None:
            stop_group(b.active)
        shutil.rmtree(b.run_dir, ignore_errors=True)

    b.say(f"failed_frac: {b.failed}/{b.attempted} = {b.failed / max(b.attempted, 1):.3f}")
    for e in b.errors:
        b.say(f"check failed: {e}")
    for name, (value, unit) in metrics.items():
        b.say(f"{name}: {value} {unit}")
    print("\n".join(b.lines))
    result = {
        "correct": b.failed == 0 and not b.errors,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
