#!/usr/bin/env python3
"""Benchmark of the engine and its replicated service.

    python3 perfbench/run.py --workload suite|service --seed N --seconds S --trace 0|1

Run from the root of the repository. The first run builds the engine and
this benchmark from source with sbt (offline) into `.bench_build/`; later
runs reuse that build while the sources are unchanged. One run starts one
JVM, sets the workload up, measures it for S seconds, checks its outputs
and prints the metrics by name with their units; the last line of
standard output is the result as one JSON object. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. The exit code is
non-zero when an output is wrong or the run could not complete.

    python3 perfbench/run.py compare A.json B.json

compares two saved result records (`.bench_build/runs/*/result.json`)
and refuses when their run profiles differ.

See perfbench/README.md for the workloads and what each metric means.
"""
import argparse
import ctypes
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from pb import report, script  # noqa: E402

BUILD = ROOT / ".bench_build"
CORPUS = HERE / "corpus" / "sf0.01"
DIGESTS = HERE / "digests.json"
WORKLOADS = ("suite", "service")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# the offline sbt settings of the engine's tier-1 test command; temporary
# files stay inside the checkout
SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": "-Dsbt.override.build.repos=true "
                f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'} "
                "-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx3g "
                f"-XX:-UsePerfData -Djava.io.tmpdir={BUILD / 'tmp'}",
}
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# C1 only: a fresh JVM does not reach C2's steady state within one run
# (timed passes kept getting faster through the whole run, 1.9 -> 1.1 s),
# so every metric would depend on how far the JIT got. C1 reaches its
# steady state during set-up. C1 only also shrinks the code cache to the
# 48 MB of a JVM without tiers, which the suite filled in its third timed
# pass: the JIT stopped, flushed and recompiled, and that pass took twice
# the CPU of the others. 240 MB is the JVM's size with tiers.
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
             "-XX:-UsePerfData"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def source_hash():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Classpath of the compiled engine plus benchmark; builds when stale."""
    missing = [p for p in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala",
                           ROOT / "tools" / "oracle_diff.py", CORPUS) if not p.exists()]
    if missing:
        fail("missing " + ", ".join(str(p.relative_to(ROOT)) for p in missing)
             + "; run from the root of a full checkout")
    stamp, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    want = source_hash()
    if stamp.exists() and cp_file.exists() and stamp.read_text() == want:
        return cp_file.read_text().strip()
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        # own process group: a timeout stops sbt and every JVM it started
        p = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env={**os.environ, **SBT_ENV}, stdout=out,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"build did not finish in {BUILD_TIMEOUT_S} s (log: {log})", 1)
    lines = log.read_text().splitlines()
    if code != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (log: {log})", 1)
    cp = [ln for ln in lines if ln and not ln.startswith("[")][-1]
    cp_file.write_text(cp)
    stamp.write_text(want)
    return cp


def die_with_parent():
    """In the child before exec: the kernel kills it when this runner dies,
    however it dies (prctl PR_SET_PDEATHSIG)."""
    ctypes.CDLL(None).prctl(1, signal.SIGKILL)


def heap():
    """The engine's tier-1 test heap: half the memory, 2 to 8 GiB."""
    kb = next(int(ln.split()[1]) for ln in open("/proc/meminfo")
              if ln.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def run_jvm(cp, args, work, timeout):
    # a fixed 3 GiB floor: G1 otherwise starts small and resizes the heap
    # part-way through a run, at a different moment in every run
    xmx = heap()
    xms = f"{min(3, int(xmx[:-1]))}g"
    cmd = ["java", *ADD_OPENS, *JVM_FLAGS, f"-Xms{xms}", f"-Xmx{xmx}",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp, "perfbench.Main",
           *args, "--corpus", str(CORPUS), "--work", str(work),
           "--out", str(work / "record.json")]
    (work / "tmp").mkdir(parents=True)
    log = work / "jvm.log"
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, preexec_fn=die_with_parent)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM did not finish in {timeout:.0f} s (log: {log})", 1)
    if code != 0:
        sys.stderr.write("\n".join(log.read_text(errors="replace").splitlines()[-40:]) + "\n")
        fail(f"JVM exited with {code} (log: {log})", 1)
    return json.loads((work / "record.json").read_text())


def metadata(rec, args):
    m = dict(rec["meta"])
    m.update(seed=args.seed, workload=args.workload, seconds=args.seconds,
             trace=args.trace, source_sha256=source_hash(),
             corpus_dir=str(CORPUS.relative_to(ROOT)), derived_k=1)
    try:
        m["git_commit"] = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except OSError:
        m["git_commit"] = None
    return m


PROFILE_KEYS = ("nproc", "master", "heap_bytes", "conf", "corpus", "workload",
                "seconds", "trace")


def compare(a_path, b_path):
    a, b = (json.loads(Path(p).read_text()) for p in (a_path, b_path))
    diff = [k for k in PROFILE_KEYS if a["meta"].get(k) != b["meta"].get(k)]
    if diff:
        fail("refusing to compare runs with different profiles: " + ", ".join(diff), 3)
    for name in sorted(a["metrics"]):
        va, vb = a["metrics"][name]["value"], b["metrics"].get(name, {}).get("value")
        rel = f"{100.0 * (vb - va) / va:+.1f}%" if va and vb is not None else "n/a"
        print(f"{name:40s} {va:14.4f} {vb if vb is not None else float('nan'):14.4f} {rel}")


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "compare":
        if len(sys.argv) != 4:
            fail("usage: run.py compare A.json B.json")
        return compare(sys.argv[2], sys.argv[3])
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "BENCHMARK.json").exists():
        fail("missing BENCHMARK.json; run from the root of a full checkout")
    started = time.monotonic()
    cp = build()
    built = time.monotonic() - started
    work = BUILD / "runs" / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    if args.workload == "service":
        script.write_tsv(script.script(args.seed), work / "script.tsv")
    # the run's own time limit excludes a build it had to do first
    left = JVM_TIMEOUT_S - (time.monotonic() - started - built)
    rec = run_jvm(cp, ["--workload", args.workload, "--seed", str(args.seed),
                       "--seconds", str(args.seconds), "--trace", str(args.trace)],
                  work, left)
    if args.workload == "suite":
        rep = report.suite(rec, json.loads(DIGESTS.read_text()))
    else:
        rep = report.service(rec, CORPUS)
    metrics = rep.per_layer if args.trace else rep.end_to_end
    if args.trace:
        metrics = {n: metrics.get(n, (0.0, u)) for n, u in per_layer_units().items()}
    meta = metadata(rec, args)
    for line in rep.failures:
        print(f"FAILED   {line}")
    for line in rep.mismatches:
        print(f"MISMATCH {line}")
    print(f"== {args.workload} seed={args.seed} trace={args.trace} "
          f"nproc={meta['nproc']} load={meta['loadavg_before']:.2f}->{meta['loadavg_after']:.2f}")
    shown = {**{k: v for k, v in rep.detail.items() if isinstance(v, tuple)}, **metrics}
    if not args.trace:
        shown["failed_ratio"] = (rep.failed / max(1, rep.attempted), "ratio")
    for name, (value, unit, *note) in shown.items():
        print(f"{name:40s} {value:14.4f} {unit}" + (f"  ({note[0]})" if note else ""))
    result = {
        "correct": not rep.mismatches,
        "attempted": rep.attempted,
        "failed": rep.failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }
    (work / "result.json").write_text(json.dumps(
        {**result, "meta": meta, "detail": rep.detail,
         "failures": rep.failures, "mismatches": rep.mismatches}, indent=1))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


def per_layer_units():
    """{name: unit} of BENCHMARK.json's per-layer metrics: a traced run
    reports every one, 0 for a layer its workload does not exercise."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


if __name__ == "__main__":
    main()
