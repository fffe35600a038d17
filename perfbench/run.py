#!/usr/bin/env python3
"""Build graft from source and run one benchmark workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the repository root. The program (src/main/scala) and the
benchmark (perfbench/src) are compiled together with the Scala compiler
shipped in Spark's jar directory ($SPARK_HOME/jars, default /opt/spark/jars,
the same jars build.sbt compiles against) into $CARGO_TARGET_DIR (default
.bench_build); the build is reused while the sources are unchanged. Every
file the run writes stays under that directory.

The last line of standard output is the result JSON
({"correct", "attempted", "failed", "metrics"}); the line before it is the
run's context (inputs, box state, sample counts, check problems).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
WORKLOADS = ("stream_drain", "stream_paced", "release_flow", "media_dedup")
RUN_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def jar_dir():
    d = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
    if not any(d.glob("scala-compiler-*.jar")):
        fail(f"no Scala compiler in {d}")
    return d


def sources():
    prog = ROOT / "src" / "main" / "scala"
    if not prog.is_dir():
        fail(f"program sources not found at {prog}")
    files = sorted(prog.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    if not files:
        fail("no sources")
    return files


def build(out):
    """Compile into out/bench.jar, then record a class-data-sharing archive
    of a smoke run (out/app.jsa), unless the stamp matches the sources."""
    files = sources()
    h = hashlib.sha256()
    for f in files + sorted((ROOT / "src" / "main" / "resources").rglob("*")):
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    stamp = h.hexdigest()
    jar = out / "bench.jar"
    stamp_file = out / "bench.stamp"
    if jar.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return jar
    stamp_file.unlink(missing_ok=True)
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jars = f"{jar_dir()}/*"
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}", "-cp", jars,
         "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp), "-classpath", jars,
         f"@{argfile}"],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed")
    with zipfile.ZipFile(jar, "w") as z:
        for base in (tmp, ROOT / "src" / "main" / "resources"):
            for f in sorted(base.rglob("*")):
                if f.is_file():
                    z.write(f, str(f.relative_to(base)))
    shutil.rmtree(tmp)
    # Spark's class loading is most of a session's start: an archive of the
    # classes a smoke run loads cuts it for every later run. The smoke run
    # also proves the build; a JVM that cannot map the archive runs without.
    archive = out / "app.jsa"
    archive.unlink(missing_ok=True)
    code, _ = run_jvm(out, jar, "graft.perfbench.Main",
                      ["--workload", "release_flow", "--seed", "1", "--seconds", "1",
                       "--trace", "0", "--smoke"], "cds",
                      [f"-XX:ArchiveClassesAtExit={archive}", "-Xlog:cds=off",
                       "-Xlog:cds+dynamic=off"])
    if code != 0:
        fail("smoke run of the build failed")
    stamp_file.write_text(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return jar


def java_cmd(out, jar, work, main, args, jvm_extra):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # explicit, sorted jar list: the sharing archive needs the same class path
    cp = os.pathsep.join([str(jar)] + [str(j) for j in sorted(jar_dir().glob("*.jar"))])
    archive = out / "app.jsa"
    if not jvm_extra and archive.exists():
        jvm_extra = [f"-XX:SharedArchiveFile={archive}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    # a fixed heap and young generation, not pre-touched: heap pages are
    # touched only as regions are first used, so peak RSS follows the heap
    # the program fills (on top of the fixed young generation) as well as
    # off-heap memory (Arrow buffers, code, threads), without the noise of
    # the collector resizing the heap or the young generation
    return (["java", "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseG1GC", "-XX:-UsePerfData"]
            + jvm_extra + opens + [
        "-Dio.netty.tryReflectionSetAccessible=true",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
        f"-Dderby.system.home={work}",
        "-cp", cp, main] + args)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(out, jar, main, args, tag, jvm_extra=()):
    """Run one JVM in its own work dir; return (exit code, stdout lines)."""
    work = out / "work" / f"{tag}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cores())
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    env.pop("SPARK_GRAFT_MEDIA_DIVERSE", None)
    proc = subprocess.Popen(java_cmd(out, jar, work, main, args + ["--work", str(work)],
                                     list(jvm_extra)),
                            cwd=work, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"{tag}: no result within {RUN_TIMEOUT_S}s")
    shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, [l for l in stdout.splitlines() if l.strip()]


def result_of(lines):
    """The context and result objects of a run's output, or None."""
    try:
        ctx = json.loads(lines[-2])["context"]
        res = json.loads(lines[-1])
    except (IndexError, ValueError, KeyError, TypeError):
        return None, None
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        return None, None
    return ctx, res


def selftest(out, jar):
    code, lines = run_jvm(out, jar, "graft.perfbench.SelfTest", [], "selftest")
    print("\n".join(lines))
    ok = code == 0
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    for wl in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, lines = run_jvm(out, jar, "graft.perfbench.Main",
                                  ["--workload", wl, "--seed", "7", "--seconds", "1",
                                   "--trace", str(trace), "--smoke"], f"smoke-{wl}-{trace}")
            ctx, res = result_of(lines)
            want = {m["name"] for m in spec[key]}
            good = (code == 0 and res is not None and res["correct"] and res["failed"] == 0
                    and set(res["metrics"]) == want)
            print(f"{'ok  ' if good else 'FAIL'} smoke {wl} trace={trace}"
                  + ("" if good else f": exit {code}, {ctx and ctx.get('problems')}, "
                     f"metrics {res and sorted(set(res['metrics']) ^ want)}"))
            ok = ok and good
    print("selftest: all passed" if ok else "selftest: FAILED")
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    out = build_dir()
    out.mkdir(parents=True, exist_ok=True)
    jar = build(out)
    if a.selftest:
        sys.exit(selftest(out, jar))
    if not a.workload:
        fail("--workload required")
    code, lines = run_jvm(out, jar, "graft.perfbench.Main",
                          ["--workload", a.workload, "--seed", str(a.seed),
                           "--seconds", str(a.seconds), "--trace", str(a.trace),
                           "--spans", str(out / "traces" / f"{a.workload}-{a.seed}.json")],
                          f"{a.workload}-{a.seed}-{a.trace}")
    ctx, res = result_of(lines)
    if code != 0 or res is None:
        fail(f"{a.workload}: run failed (exit {code})")
    print(json.dumps({"context": ctx}))
    print(json.dumps(res))


if __name__ == "__main__":
    main()
