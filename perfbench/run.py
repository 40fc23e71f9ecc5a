#!/usr/bin/env python3
"""Host-sized benchmark of the graft engine.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke
    python3 perfbench/run.py --record [headline|queries|model-run|smoke]

Run from the repository root. The first run builds the engine and the
harness from source (sbt, offline, against the jars of the Spark
distribution at $SPARK_HOME, as the root build does) into
perfbench/target; later runs reuse the build while the sources are
unchanged. Everything a run writes stays under
perfbench/ (target/, .work/).

Workloads (one JVM at local[nproc], one closed-loop client):

  headline   the fused headline job (Headline.planFrom) over slice 1 of
             the full-grid tile table (441 of 1,764 tiles x 86 bands),
             a fresh plan per execution, back to back until --seconds
             have passed (at least 3)
  queries    four registry queries on perfbench/data/sf0.01: two of
             ROADMAP's iterative (fixpoint) rows, q30 and q115, and two
             of its serial CPU-heavy rows, q53 and q89, in an order
             permuted by --seed;
             whole sweeps until --seconds have passed (at least 1)
  model-run  the four model stages (classified, expanded, class_gtiff,
             loss_masks) over tile row 13 of the headline grid (63
             tiles, 256,512 cells), each pass into a fresh Checkpoint
             store (at least 1 pass)

The sizes keep one run near half a minute on a 4-core host, so that
the whole repeated-runs protocol (22 runs per workload) fits its time
budget; the full-grid job, the 199-query sweep and the full-grid model
run take seconds to minutes each and are noisier per run.

The world fixture has no RNG (every value is a hash of the cell id),
so --seed permutes the query order and is recorded in every result.
The tile table is generated on the first run in a checkout and reused
after; the first run's set-up includes that build.

Every output is consumed in full and checked against
perfbench/expected/*.tsv. A failed or mismatched operation counts in
`failed` and makes the exit code non-zero.

The last line of standard output is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end_to_end metrics of
BENCHMARK.json with --trace 0, its per_layer metrics with --trace 1.
The full result (host stamp, every metric, the same numbers under
their workload names, every operation) is written to
perfbench/.work/results/.

End-to-end metrics, on every workload:
  setup_s      set-up time: session, tile fixture, trees, PIP covering;
               the median of three set-ups in the run. The first runs
               from process start and ends with the warm-up (the timed
               plan's codegen and JIT), so it is the largest; the
               others rebuild the session and the fixture state.
  pass_s       median wall of one pass: one headline execution, one
               query sweep, or the four model stages
  peak_rss_mb  peak resident set of the benchmark JVM (VmHWM)
Workload names printed alongside: tiles_per_s and exec_p50_s
(headline), sweep_s, query_p50_s and query_p90_s (queries), model_s
(model-run), fail_frac and the sample count `ops` (all).

Per-layer metrics (traced runs) are listed in BENCHMARK.json; a layer
that the workload does not exercise reads 0 (for example the stage.*
metrics on `queries`). The headline ladder runs on traced `headline`
runs only. trace.overhead_frac is the traced run's pass_s over the
median pass_s of the untraced runs of the same workload in this
checkout, minus one (0 when there is none yet).

--smoke runs one short pass of every workload on the smallest inputs
(queries on sf0.001, a few tiles) and asserts that every metric of
BENCHMARK.json is present with its unit. --record regenerates
perfbench/expected/ from three runs (two at the host's core count, one
at half of it); an output whose hash differs between them is checked
by its row count only.
"""

import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "perfbench.stamp")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
WORKLOADS = ["headline", "queries", "model-run"]
# the workload-named metrics every smoke run must report
NAMED = [{"name": n, "unit": u} for n, u in [
    ("tiles_per_s", "tiles/s"), ("exec_p50_s", "s"), ("sweep_s", "s"),
    ("query_p50_s", "s"), ("query_p90_s", "s"), ("model_s", "s"),
    ("fail_frac", "ratio"), ("ops", "count")]]
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, sorted."""
    out = [os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def source_digest():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness unless the last build saw these sources."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("engine sources not found: perfbench/ must sit next to src/main/scala")
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return digest
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building engine and harness (sbt compile)", flush=True)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(digest + "\n")
    return digest


def revision(digest):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "src-" + digest[:16]


def heap():
    """A fixed, pre-touched heap of a quarter of the host's memory,
    between 2 and 4 GB: a heap that grows on demand makes peak RSS and
    the first executions vary from run to run."""
    kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
    return f"{max(2, min(4, kb // 4 // 1024 // 1024))}g"


def run_jvm(workload, seed, seconds, trace, rev, out, cores=None,
            record=False, expected=None, setups=3):
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    cp = CLASSES + os.pathsep + os.path.join(SPARK_JARS, "*")
    cmd = ["java", f"-Xms{heap()}", f"-Xmx{heap()}", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={WORK}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--work", WORK, "--data", os.path.join(HERE, "data"),
            "--expected", expected or os.path.join(
                HERE, "expected", f"{workload}.tsv"),
            "--out", out, "--rev", rev, "--setups", str(setups),
            "--record", "1" if record else "0"]
    if cores:
        cmd += ["--cores", str(cores)]
    log = os.path.join(WORK, f"{workload}.stderr.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                             text=True, cwd=ROOT)
        try:
            stdout, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"{workload} did not finish in {RUN_TIMEOUT_S} s")
    sys.stdout.write(stdout)
    if not os.path.exists(out):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"{workload} wrote no result (exit {p.returncode})")
    with open(out) as f:
        return p.returncode, json.load(f)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def select(result, wanted):
    """The contract's metrics, each required with its declared unit."""
    got = result["metrics"]
    picked = {}
    for m in wanted:
        v = got.get(m["name"])
        if v is None or v["unit"] != m["unit"] or v["value"] is None:
            fail(f"metric {m['name']} missing or without unit {m['unit']}")
        picked[m["name"]] = v
    return picked


def untraced_pass_median(workload, host):
    """Median pass_s of this checkout's untraced runs of the workload
    with the same revision, host and run length."""
    d = os.path.join(WORK, "results")
    same = ("revision", "nproc", "mem_total_kb", "seconds")
    vals = []
    for n in os.listdir(d) if os.path.isdir(d) else []:
        if n.startswith(workload + "-") and n.endswith("-t0.json"):
            try:
                with open(os.path.join(d, n)) as f:
                    r = json.load(f)
                if all(r["host"][k] == host[k] for k in same):
                    vals.append(r["metrics"]["pass_s"]["value"])
            except (OSError, ValueError, KeyError):
                pass
    vals.sort()
    return vals[len(vals) // 2] if vals else None


def measure(args):
    rev = revision(build())
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    out = os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-"
                       f"{int(time.time() * 1000)}-t{args.trace}.json")
    code, result = run_jvm(args.workload, args.seed, args.seconds,
                           args.trace == 1, rev, out)
    s = spec()
    if args.trace == 1:
        base = untraced_pass_median(args.workload, result["host"])
        traced = result["metrics"]["pass_s"]["value"]
        result["metrics"]["trace.overhead_frac"] = {
            "value": traced / base - 1.0 if base else 0.0, "unit": "ratio"}
        with open(out, "w") as f:
            json.dump(result, f, indent=1)
    metrics = select(result, s["per_layer" if args.trace == 1 else "end_to_end"])
    print(json.dumps({"correct": result["correct"],
                      "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0 if code == 0 and result["correct"] else 1


def smoke():
    """One short pass of every workload; every metric must be present."""
    rev = revision(build())
    out = os.path.join(WORK, "smoke.json")
    code, result = run_jvm("smoke", 1, 0, True, rev, out, setups=1)
    result["metrics"]["trace.overhead_frac"] = {"value": 0.0, "unit": "ratio"}
    s = spec()
    select(result, s["end_to_end"] + s["per_layer"])
    select({"metrics": result["named"]}, NAMED)
    ok = code == 0 and result["correct"]
    print(json.dumps({"smoke": "ok" if ok else "failed",
                      "attempted": result["attempted"],
                      "failed": result["failed"]}))
    return 0 if ok else 1


def record(workloads):
    """Regenerate perfbench/expected/ on this commit."""
    rev = revision(build())
    nproc = os.cpu_count() or 2
    os.makedirs(os.path.join(HERE, "expected"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "record"), exist_ok=True)
    for w in workloads:
        seen = {}
        for i, cores in enumerate([nproc, nproc, max(1, nproc // 2)]):
            out = os.path.join(WORK, "record", f"{w}-{i}.json")
            run_jvm(w, 1, 0, False, rev, out, cores=cores, record=True,
                    setups=1)
            with open(out + ".expected.tsv") as f:
                for line in f.read().splitlines():
                    name, rows, h = line.split("\t")
                    seen.setdefault(name, []).append((rows, h))
        lines = [f"# expected outputs at {rev}: name, rows, hash "
                 "('-': rows only, the hash differed between runs)"]
        unstable = []
        for name in sorted(seen):
            rows = {r for r, _ in seen[name]}
            hashes = {h for _, h in seen[name]}
            if len(rows) != 1 or len(seen[name]) < 3:
                fail(f"{w}: {name} rows differ or missing between runs: "
                     f"{seen[name]}")
            if len(hashes) != 1:
                unstable.append(name)
            lines.append("\t".join([name, rows.pop(),
                                    hashes.pop() if len(hashes) == 1 else "-"]))
        with open(os.path.join(HERE, "expected", f"{w}.tsv"), "w") as f:
            f.write("\n".join(lines) + "\n")
        print(f"{w}: {len(seen)} outputs, rows only: {unstable or 'none'}",
              flush=True)
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record", nargs="?", const="all",
                    choices=WORKLOADS + ["smoke", "all"])
    args = ap.parse_args()
    if args.smoke:
        return smoke()
    if args.record:
        return record(WORKLOADS + ["smoke"] if args.record == "all"
                      else [args.record])
    if not args.workload:
        ap.error("--workload is required")
    return measure(args)


if __name__ == "__main__":
    sys.exit(main())
