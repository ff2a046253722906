#!/usr/bin/env python3
"""graft's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <etl_incremental|registry> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py compare <record.json> <record.json> [...]

Run from the root of a checkout. The first run builds the program
(`sbt compile` at the root) and the benchmark (`sbt compile` in
perfbench/); later runs reuse the build while the sources are unchanged.
Each run starts a fresh JVM, prints what the program logs to stderr, saves
its stamped record under perfbench/records/ and prints as the last line of
stdout one JSON object: correct, attempted, failed and the metrics, the
end-to-end ones with --trace 0 and the per-layer ones with --trace 1.
`compare` prints the medians of like records per commit and tracing mode,
the tracing overhead, and refuses records whose stamps differ.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_STAMP = os.path.join(HERE, "target", "build.stamp")
RECORDS = os.path.join(HERE, "records")
RUN_TIMEOUT_S = 170
REGISTRY_SF = "0.01"
XMX = "3g"
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
# stamp keys two records must share to be compared
LIKE_KEYS = ["workload", "seconds", "cpus", "sf", "artifact_mode",
             "xmx", "session", "derby", "bench"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution: set SPARK_HOME")
    return home


def tree_hash(*dirs):
    h = hashlib.sha256()
    for d in dirs:
        for base, subdirs, files in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "records", "work", "project"))
            for name in sorted(files):
                if name.endswith((".scala", ".sbt", ".properties", ".tsv")) or "META-INF" in base:
                    p = os.path.join(base, name)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()


def program_sha():
    """The commit under test: git's HEAD when there is a repository,
    else a hash of the program's sources."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0 and out.stdout.strip():
            return out.stdout.strip()
    except OSError:
        pass
    return "tree:" + tree_hash(os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"))[:16]


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    env["SBT_OPTS"] = opts.strip()
    return env


def sbt(cwd, *tasks):
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks]
    res = subprocess.run(cmd, cwd=cwd, env=sbt_env(), stdout=sys.stderr, stderr=sys.stderr,
                         timeout=800)
    if res.returncode != 0:
        fail(f"build failed: {' '.join(cmd)} in {cwd}", 3)


def build():
    """Builds the program and the benchmark unless the last build is of
    the same sources."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources here: run from the root of a graft checkout")
    want = tree_hash(os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"), HERE)
    if os.path.exists(BUILD_STAMP) and open(BUILD_STAMP).read() == want:
        return
    sbt(ROOT, "compile")
    sbt(HERE, "compile")
    os.makedirs(os.path.dirname(BUILD_STAMP), exist_ok=True)
    with open(BUILD_STAMP, "w") as f:
        f.write(want)


def sf_dir(sf):
    """The registry's tables: $GRAFT_SF_DIR, else the directory the
    repository's TESTDATA.md lists for scale factor `sf`."""
    if os.environ.get("GRAFT_SF_DIR"):
        return os.environ["GRAFT_SF_DIR"]
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            for line in f:
                cells = [c.strip().strip("`") for c in line.split("|")]
                if len(cells) > 2 and cells[1] == sf:
                    return cells[2].rstrip("/")
    except OSError:
        pass
    fail(f"no table directory for sf{sf}: set GRAFT_SF_DIR")


def run_jvm(a, work, out):
    home = spark_home()
    cp = os.pathsep.join([os.path.join(HERE, "target", "scala-2.13", "classes"),
                          os.path.join(ROOT, "target", "scala-2.13", "classes"),
                          os.path.join(ROOT, "src", "main", "resources"),
                          os.path.join(home, "jars", "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] +
           [f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            f"-Dderby.system.home={work}", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", out, "--src-root", ROOT,
            "--pins", os.path.join(HERE, "registry.tsv"),
            "--stamp", json.dumps(a.stamp)])
    if a.workload == "registry":
        cmd += ["--sf-dir", a.sf_dir]
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"{a.workload} did not finish in {RUN_TIMEOUT_S} s", 4)
    if code != 0 or not os.path.exists(out):
        fail(f"{a.workload} run failed (exit {code})", 5)
    return t0


def bench(a):
    build()
    b = spec()
    names = [w["name"] for w in b["workloads"]]
    if a.workload not in names:
        fail(f"unknown workload {a.workload}; one of {names}")
    a.sf_dir = sf_dir(REGISTRY_SF) if a.workload == "registry" else ""
    a.stamp = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
        "cpus": os.cpu_count(), "sf": REGISTRY_SF if a.workload == "registry" else "generated corpus",
        "artifact_mode": "cold" if a.workload == "registry" else "none",
        "xmx": XMX, "derby": "in-memory, no durability", "commit": program_sha(),
        "bench": tree_hash(HERE)[:16]}
    os.makedirs(RECORDS, exist_ok=True)
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    try:
        t0 = run_jvm(a, work, out)
        with open(out) as f:
            rec = json.load(f)
        spans = out[:-len(".json")] + ".spans.jsonl"
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        if os.path.exists(spans):
            shutil.move(spans, os.path.join(RECORDS, tag + ".spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    rec["stamp"]["session"] = rec["run"]["session"]
    rec["end_to_end"]["setup_s"] = rec["first_op_epoch_ms"] / 1000.0 - t0
    with open(os.path.join(RECORDS, tag + ".json"), "w") as f:
        json.dump(rec, f, indent=1)
    wanted = b["per_layer"] if a.trace else b["end_to_end"]
    source = rec["per_layer"] if a.trace else rec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if not isinstance(v, (int, float)):
            fail(f"{a.workload} reported no value for {m['name']}", 6)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for f_ in rec["failures"]:
        print(f"perfbench: failed {f_['op']}: {f_['error']}", file=sys.stderr)
    print(json.dumps({"correct": rec["failed"] == 0, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


def compare(paths):
    """Medians per commit and tracing mode of like records, and the tracing
    overhead (traced op median minus untraced) where both modes are given."""
    recs = []
    for p in paths:
        with open(p) as f:
            recs.append(json.load(f))
    ref = recs[0]["stamp"]
    for p, r in zip(paths, recs):
        diff = [k for k in LIKE_KEYS if r["stamp"].get(k) != ref.get(k)]
        if diff:
            fail(f"refusing to compare unlike records: {p} differs in {', '.join(diff)}", 7)
    groups = {}
    for r in recs:
        groups.setdefault((r["stamp"]["commit"], r["stamp"]["trace"]), []).append(r)
    for (commit, trace), rs in groups.items():
        key = "per_layer" if trace else "end_to_end"
        print(f"# {ref['workload']} commit {commit[:16]} trace {trace} runs {len(rs)}")
        for name in rs[0][key]:
            print(f"{name}\t{statistics.median(r[key][name] for r in rs):.6g}")
    for commit in dict.fromkeys(c for c, _ in groups):
        plain, traced = groups.get((commit, 0)), groups.get((commit, 1))
        if plain and traced:
            a = statistics.median(r["end_to_end"]["op_p50_s"] for r in plain)
            b = statistics.median(r["per_layer"]["trace.op_p50_s"] for r in traced)
            print(f"# tracing overhead on op_p50_s: {b - a:+.4f} s ({(b - a) / a:+.1%})")


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "compare":
        compare(sys.argv[2:])
        return
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], required=True)
    bench(p.parse_args())


if __name__ == "__main__":
    main()
