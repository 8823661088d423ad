#!/usr/bin/env python3
"""Run one workload of the Graft layered benchmark and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
benchmark program from the checkout's sources with sbt (offline); later runs
reuse the build while the sources are unchanged. Everything the run writes
stays under `.bench_build/` in the checkout; the tables of a run are deleted
when it ends, its log and (traced) span files are kept.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with `--trace 0`, its per-layer metrics with `--trace 1`.
The lines before it are the human-readable report.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("pk_ingest_serve", "change_propagation", "curation")
# Forked Spark drivers on JDK 17 need these (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 700
ARCHIVE_LIMIT_S = 150


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.abspath(__file__)]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, dirs, files in os.walk(r):
            dirs.sort()
            for f in sorted(files):
                yield os.path.join(d, f)


def stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return (classpath, built)."""
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp.txt")
    want = stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as c:
                    return c.read().strip(), False
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # keep sbt's scratch files inside the checkout too
    env["TMPDIR"] = tmp
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"], HERE, env, out, BUILD_LIMIT_S)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    # `export` prints the classpath as the one line without an sbt log prefix
    paths = [l for l in lines if not l.startswith("[")]
    if rc != 0 or not paths:
        sys.stderr.write("".join(l + "\n" for l in lines[-30:]))
        fail(f"build failed (exit {rc}); log in {log}", 1)
    cp = share_classes(paths[-1], env)
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(stamp_file, "w") as f:
        f.write(want + "\n")
    return cp, True


def share_classes(cp, env):
    """Return the run classpath, with a class-data-sharing archive next to it.

    Each run starts a cold JVM, and loading Spark's classes is a large part
    of its set-up. The JVM can map classes from an archive instead, but only
    from jars, so the compiled class directories are packed into jars first.
    The archive is dumped by one short untimed run. It changes how classes
    load, not what runs; when it cannot be made or used, the JVM loads
    classes as usual."""
    cds = os.path.join(BUILD, "cds")
    shutil.rmtree(cds, ignore_errors=True)
    os.makedirs(cds)
    entries = []
    for k, e in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(e):
            jar = os.path.join(cds, f"classes{k}.jar")
            with zipfile.ZipFile(jar, "w") as z:
                for d, dirs, files in os.walk(e):
                    dirs.sort()
                    for f in sorted(files):
                        z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), e))
            e = jar
        entries.append(e)
    cp = os.pathsep.join(entries)
    work = os.path.join(cds, "work")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = jvm(cp, os.path.join(work, "tmp"), [f"-XX:ArchiveClassesAtExit={archive()}"]) + [
        "--workload", "pk_ingest_serve", "--seed", "0", "--seconds", "1", "--trace", "0",
        "--work", work, "--result", os.path.join(work, "result.json")]
    with open(os.path.join(cds, "dump.log"), "w") as out:
        rc = run_bounded(cmd, ROOT, env, out, ARCHIVE_LIMIT_S)
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 and os.path.exists(archive()):
        os.remove(archive())
    return cp


def archive():
    return os.path.join(BUILD, "cds", "classes.jsa")


def jvm(cp, tmp, flags=()):
    """The benchmark JVM's command line, up to the program's arguments."""
    cmd = [java(), *flags, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "graft.perfbench.Main"]


def run_bounded(cmd, cwd, env, out, limit_s):
    """Run `cmd` in its own process group; kill the group past `limit_s`."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        return -9
    finally:
        try:  # also whatever the process left running in its group
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else None
    return exe if exe and os.path.exists(exe) else "java"


def report(res, traced):
    print(f"workload {res['workload']}  seed {res['seed']}  seconds {res['seconds']}  "
          f"rounds {res['rounds']}  trace {int(traced)}")
    frac = res["failed"] / res["attempted"] if res["attempted"] else float("nan")
    print(f"  {'failed_op_frac':28s} {frac:12.4f} ratio   "
          f"({res['failed']} of {res['attempted']} operations threw)")
    print(f"  {'setup_s phases':28s} " + "  ".join(
        f"set-up {k + 1}: session {p[0]:.2f} s, fixtures {p[1]:.2f} s"
        for k, p in enumerate(res["setup_phases_s"])) + f"  warm-up {res['warm_up_s']:.2f} s")
    for name, m in res["end_to_end"].items():
        print(f"  {name:28s} {fmt(m['value'])} {m['unit']}")
    for f in res["figures"]:
        print(f"  {f['name']:28s} {fmt(f['value'])} {f['unit']:6s}  {f['note']}")
    for name, m in res["per_layer"].items():
        print(f"  {name:40s} {fmt(m['value'])} {m['unit']}")
    for m in res["mismatches"]:
        print(f"  MISMATCH {m}")
    for e in res["errors"]:
        print(f"  ERROR {e}")


def contract_metrics(measured, traced):
    """Exactly the metrics BENCHMARK.json lists for this mode, when it is there.

    A per-layer metric the workload did not measure is a layer it leaves
    idle and reads 0; an end-to-end metric must be measured."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return measured
    with open(path) as f:
        specs = json.load(f)["per_layer" if traced else "end_to_end"]
    missing = [m["name"] for m in specs if m["name"] not in measured and not traced]
    if missing:
        fail(f"the run measured no {', '.join(missing)}", 1)
    wrong = [f"{m['name']} ({measured[m['name']]['unit']}, not {m['unit']})" for m in specs
             if m["name"] in measured and measured[m["name"]]["unit"] != m["unit"]]
    if wrong:
        fail(f"units differ from BENCHMARK.json: {', '.join(wrong)}", 1)
    return {m["name"]: measured.get(m["name"], {"value": 0, "unit": m["unit"]}) for m in specs}


def fmt(v):
    return f"{v:12.4f}" if isinstance(v, (int, float)) else f"{'n/a':>12s}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; one of {', '.join(WORKLOADS)}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no Graft sources under {ROOT}/src/main/scala: run from a checkout of the repository")
    if not a.seconds > 0:
        fail("--seconds must be positive")
    started = time.time()
    cp, built = build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    trace_dir = os.path.join(BUILD, "trace", f"{a.workload}-seed{a.seed}")
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    logs = os.path.join(BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    log = os.path.join(logs, f"{tag}.log")
    shared = [f"-XX:SharedArchiveFile={archive()}"] if os.path.exists(archive()) else []
    cmd = jvm(cp, tmp, shared) + ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
            "--result", result, "--trace-dir", trace_dir]
    # a run that had to build may take longer; the JVM still gets the full run limit
    limit = RUN_LIMIT_S if built else max(30, RUN_LIMIT_S - (time.time() - started))
    try:
        with open(log, "w") as out:
            rc = run_bounded(cmd, ROOT, dict(os.environ), out, limit)
        if rc != 0 or not os.path.exists(result):
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"benchmark JVM failed (exit {rc}); log in {log}", 1)
        with open(result) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    traced = a.trace == "1"
    report(res, traced)
    metrics = contract_metrics(res["per_layer"] if traced else res["end_to_end"], traced)
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()
