#!/usr/bin/env python3
"""Run one workload of the engine benchmark and print its result line.

    python3 perfbench/run.py --workload <catalog|scale_sf1|dbt_incremental>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The script
  1. builds the engine and the benchmark from source with sbt (only when a
     source file changed since the last build),
  2. generates the input tables once (gen_data.py; not part of any timing)
     and checks their row counts,
  3. records the load guard (load average and a fixed CPU probe) before and
     after the run,
  4. runs the benchmark JVM (perfbench.Main) and prints, as its last line,
     {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Everything it writes stays under perfbench/.run/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
RUN = os.path.join(HERE, ".run")
WORK = os.path.join(RUN, "work")
DIGESTS = os.path.join(HERE, "digests.json")

# workload -> (scale factor, row groups of lineitem and orders) of its tables
FIXTURES = {"catalog": (0.01, 1), "dbt_incremental": (0.25, 8)}
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_fingerprint():
    """Hash of every input of the build: engine and benchmark sources and
    build definitions."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(REPO, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for root in roots:
        for d, subdirs, names in os.walk(root):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, REPO).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt unless the recorded build matches the sources;
    returns the runtime classpath."""
    stamp = os.path.join(RUN, "build.json")
    fp = source_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            rec = json.load(f)
        if rec.get("fingerprint") == fp:
            return rec["classpath"]
    if shutil.which("sbt") is None:
        fail("sbt not found")
    log("building engine and benchmark with sbt")
    t0 = time.time()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_LIMIT_S)
    lines = p.stdout.splitlines()
    cp = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    os.makedirs(RUN, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp[-1].strip()}, f)
    log(f"build took {time.time() - t0:.1f} s")
    return cp[-1].strip()


def fixture(workload):
    """Generate a workload's tables once per checkout and check their row
    counts."""
    import pyarrow.parquet as pq
    sf, groups = FIXTURES[workload]
    name = f"sf{sf}"
    out = os.path.join(RUN, "data", name)
    gen = os.path.join(HERE, "gen_data.py")
    with open(gen, "rb") as f:
        key = f"{hashlib.sha256(f.read()).hexdigest()}:{sf}:{groups}"
    stamp = os.path.join(out, "_fixture")
    if not (os.path.exists(stamp) and open(stamp).read() == key):
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.time()
        subprocess.run([sys.executable, gen, out, str(sf), str(groups)], check=True,
                       stdout=subprocess.DEVNULL, timeout=600)
        with open(stamp, "w") as f:
            f.write(key)
        log(f"generated fixture {name} (sf={sf}) in {time.time() - t0:.1f} s")
    want = {"lineitem": int(6_000_000 * sf), "orders": int(1_500_000 * sf)}
    for table, n in want.items():
        got = pq.ParquetFile(os.path.join(out, f"{table}.parquet")).metadata.num_rows
        if got != n:
            fail(f"fixture {name}: {table} has {got} rows, expected {n}")


def canary_ms():
    """Fixed CPU probe, best of three: no code change moves it, outside
    load does."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc ^= (i * 2654435761) & 0xFFFFFFFF
        best = min(best, (time.perf_counter() - t0) * 1e3)
    return best


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def guard_floor(pre, post):
    """The lowest canary seen in this checkout is the idle floor."""
    path = os.path.join(RUN, "canary_floor.json")
    floor = min(pre, post)
    if os.path.exists(path):
        with open(path) as f:
            floor = min(floor, json.load(f)["floor_ms"])
    with open(path, "w") as f:
        json.dump({"floor_ms": floor}, f)
    return floor


def load_digests():
    if not os.path.exists(DIGESTS):
        return {}
    with open(DIGESTS) as f:
        return json.load(f)


def record_digests(workload, observed):
    """Merge the digests a run observed into perfbench/digests.json."""
    table = load_digests()
    with open(observed) as f:
        table.setdefault(workload, {}).update(l.rstrip("\n").split("\t") for l in f)
    table = {w: dict(sorted(d.items())) for w, d in sorted(table.items())}
    with open(DIGESTS, "w") as f:
        json.dump(table, f, indent=1)
        f.write("\n")
    log(f"recorded {len(table[workload])} {workload} digests")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(FIXTURES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="store the observed output digests in perfbench/digests.json")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(REPO, "build.sbt"))
            and os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft"))):
        fail("engine sources not found next to perfbench/; run from a repository checkout")
    if not os.path.exists(DIGESTS) and not a.record:
        fail("perfbench/digests.json is missing")
    java = shutil.which("java") or os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    classpath = build()
    fixture(a.workload)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    expected = os.path.join(WORK, f"expected_{a.workload}.tsv")
    with open(expected, "w") as f:
        f.writelines(f"{k}\t{v}\n" for k, v in load_digests().get(a.workload, {}).items())

    started = time.time()
    guard = {"load1_pre": load1(), "canary_pre_ms": canary_ms()}
    cmd = [java, f"-Xmx{HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", RUN, "--expected", expected]
    observed = os.path.join(WORK, f"observed_{a.workload}.tsv")
    if a.record:
        cmd += ["--record", observed]
    jvm_log = os.path.join(WORK, "jvm.log")
    with open(jvm_log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=max(10, RUN_LIMIT_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("benchmark JVM exceeded the run limit")
    for line in open(jvm_log, errors="replace"):
        if line.startswith("[perfbench]"):
            sys.stderr.write(line)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        fail(f"benchmark JVM failed (exit {proc.returncode}); see {jvm_log}")
    res = json.loads(lines[-1])
    if a.record:
        record_digests(a.workload, observed)
    guard.update({"load1_post": load1(), "canary_post_ms": canary_ms()})
    floor = guard_floor(guard["canary_pre_ms"], guard["canary_post_ms"])
    guard["contended"] = min(guard["canary_pre_ms"], guard["canary_post_ms"]) > 1.5 * floor
    if guard["contended"]:
        log(f"run marked contended: canary {guard['canary_pre_ms']:.1f}/"
            f"{guard['canary_post_ms']:.1f} ms vs idle floor {floor:.1f} ms")

    metrics = res["metrics"]
    if a.trace:
        metrics["guard.canary_ms"] = {"value": max(guard["canary_pre_ms"], guard["canary_post_ms"]),
                                      "unit": "ms"}
        metrics["guard.load1"] = {"value": guard["load1_pre"], "unit": "load"}
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                            "passes": res.get("passes"), "failures": res.get("failures"),
                            "guard": guard, "metrics": metrics}) + "\n")
    print(json.dumps({"correct": res["failed"] == 0 and res["attempted"] > 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
