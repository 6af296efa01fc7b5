"""Build file of the benchmark's JVM side.

    python3 perfbench/build.py        # from the repository root

1. Compiles the engine's sources (src/main/scala) together with the
   benchmark's own (perfbench/src) with the Scala compiler that ships in
   the Spark distribution the engine builds against (the jars build.sbt
   puts on its classpath): no sbt, no dependency resolution, no network.
2. Packs the classes into .bench_build/bench.jar.
3. Builds the warehouse that warehouse-reads reads: the reference feed
   replicated WAREHOUSE_K times (gen.py, a fixed seed) landed day by day
   through the engine's pipeline, then checked against the DuckDB port
   (check.py). It goes to .bench_build/warehouse/: the lake, the port's
   copy of the feed, and build.json (each day's clock and table
   versions, the check's verdict, the build's per-layer census).
4. The JVM of step 3, which also makes traced read passes, records a
   class-data-sharing archive (.bench_build/bench.jsa) of the classes it
   loads, so that each measured JVM maps the ~20k Spark and engine
   classes it loads instead of parsing and verifying them again; a daily
   job that starts a JVM per day would be deployed the same way. The
   archive shortens JVM and session start and the first op's class
   loading; it holds no compiled code, so JIT warm-up still shows in
   every cold op.

A stamp of every source's path and content (the engine's, the
benchmark's Scala, gen.py, check.py and this file) makes an unchanged
tree skip all four steps.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile
from pathlib import Path

sys.dont_write_bytecode = True

import check  # noqa: E402
import gen  # noqa: E402

SPARK_JARS = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
SOURCE_DIRS = ("src/main/scala", "perfbench/src")
ADD_OPENS = ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar")
JVM_TIMEOUT_S = 160
# The warehouse build lands four days and then reads; it runs once per
# build, which may take longer than a measured run.
BUILD_JVM_TIMEOUT_S = 600
# Replicas of the reference feed in the warehouse, and the seed of its
# row order and file split.
WAREHOUSE_K = 4
WAREHOUSE_SEED = 0
# The dimension whose history is read: its day-4 churn (cards moving to
# another account) closes rows, so time travel must mask them, and days
# 1-3 only add cards, so they have a change feed.
HISTORY_DIM = "dim_cards_hist"


def sources(root):
    files = []
    for d in SOURCE_DIRS:
        base = root / d
        if not base.is_dir():
            raise SystemExit(f"build: source directory {d} is missing")
        files += sorted(base.rglob("*.scala"))
    return files


def stamp(root, files):
    h = hashlib.sha256()
    for f in files + [Path(__file__), Path(gen.__file__), Path(check.__file__)]:
        h.update(str(f.resolve().relative_to(root)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    h.update(str(SPARK_JARS).encode())
    return h.hexdigest()


def scala_jar(name):
    jars = sorted(SPARK_JARS.glob(f"scala-{name}-2.13*.jar"))
    if not jars:
        raise SystemExit(f"build: no scala-{name} jar in {SPARK_JARS}")
    return str(jars[-1])


def java_cmd(out, run_dir, *jvm_flags):
    """The measured JVM: the engine's runtime flags from build.sbt
    (javaOptions) plus a classpath in a fixed order, which the
    class-data archive requires. Scratch files go under `run_dir`."""
    cp = [str(out / "bench.jar")] + sorted(str(j) for j in SPARK_JARS.glob("*.jar"))
    return ["java", *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS],
            f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '4g')}",
            "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.codegen.cache.maxEntries=4096",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            f"-Dspark.local.dir={run_dir / 'spark-local'}",
            *jvm_flags, "-cp", os.pathsep.join(cp), "perfbench.Main"]


def run_java(cmd, run_dir, log, timeout=JVM_TIMEOUT_S):
    """Runs one benchmark JVM with its working directory, temp dirs and
    core count pinned; returns (exit code or 'timeout', launch ms)."""
    for d in ("jvm", "tmp", "spark-local"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    launch = time.time() * 1000
    with open(log, "wb") as lf:
        p = subprocess.Popen(cmd, cwd=run_dir / "jvm", stdout=lf,
                             stderr=subprocess.STDOUT, env=env)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also when this process is interrupted: no JVM outlives it
            if p.poll() is None:
                p.kill()
                p.wait()
    return rc, launch


def compile_jar(root, files, out):
    classes = out / f"classes.tmp{os.getpid()}"
    argfile = out / f"sources{os.getpid()}.txt"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    try:
        argfile.write_text("\n".join(str(f) for f in files) + "\n")
        cp = os.pathsep.join(scala_jar(n) for n in ("compiler", "library", "reflect"))
        r = subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", cp,
             "scala.tools.nsc.Main", "-nowarn", "-d", str(classes),
             "-classpath", str(SPARK_JARS / "*"), f"@{argfile}"],
            cwd=root, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
        if r.returncode != 0:
            raise SystemExit(f"build: scalac exited {r.returncode}")
        with zipfile.ZipFile(out / "bench.jar", "w", zipfile.ZIP_STORED) as z:
            for f in sorted(classes.rglob("*")):
                if f.is_file():
                    z.write(f, f.relative_to(classes).as_posix())
    finally:
        shutil.rmtree(classes, ignore_errors=True)
        argfile.unlink(missing_ok=True)


def train(root, out):
    """Builds the warehouse (step 3) in a JVM that records bench.jsa
    (step 4); a traced run, so the tracer's classes are archived too."""
    wh = out / "warehouse"
    run_dir = out / "train"
    for d in (wh, run_dir):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir()
    try:
        fixtures = root / "src/test/resources/fixtures"
        stats = gen.generate(fixtures, run_dir / "in", WAREHOUSE_K, WAREHOUSE_SEED)
        queries = run_dir / "queries.tsv"
        queries.write_text(
            f"point\t{HISTORY_DIM}\tcard_num\t-\n"
            f"asof\t{HISTORY_DIM}\tcard_num\t-\t2020-05-02 00:00:00\n"
            "range\t2020-05-01 10:00:00\t2020-05-01 12:00:00\n"
            f"versions\t{HISTORY_DIM}\n"
            f"readat\t{HISTORY_DIM}\t1\n"
            f"readasof\t{HISTORY_DIM}\t2\n"
            f"changes\t{HISTORY_DIM}\t1\t2\n")
        rec = run_dir / "train.json"
        cmd = java_cmd(out, run_dir, f"-XX:ArchiveClassesAtExit={out / 'bench.jsa'}") + [
            "--mode", "warehouse", "--trace", "1", "--seconds", "0",
            "--feeds", str(run_dir / "in" / "feeds"), "--days", str(gen.DAYS),
            "--feed-rows", ",".join(str(s["landed_rows"]) for s in stats),
            "--lakes", str(wh / "lakes"), "--dump", str(run_dir / "dump"),
            "--queries", str(queries), "--answers", str(run_dir / "answers"),
            "--out", str(rec)]
        rc, _ = run_java(cmd, run_dir, run_dir / "train.log", BUILD_JVM_TIMEOUT_S)
        if rc != 0 or not rec.is_file():
            sys.stderr.write((run_dir / "train.log").read_text(errors="replace")[-4000:])
            raise SystemExit(f"build: warehouse build failed: {rc}")
        built = json.loads(rec.read_text())["build"]
        port = check.PortReplay(root, run_dir / "in" / "port", run_dir / "duck")
        base = check.PortReplay(root, fixtures, run_dir / "duck")
        shutil.move(run_dir / "in" / "port", wh / "port")
        (wh / "build.json").write_text(json.dumps({
            "feed_days": stats,
            "day_end_ms": built["day_end_ms"],
            "day_versions": built["day_versions"],
            "days_failed": check.replay_failed(built, port, run_dir / "dump"),
            "k_fold": check.k_fold(base, run_dir / "dump" / "r1" / "report", WAREHOUSE_K),
            "layers": built["layers"]}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def ensure(root, out):
    """Builds `out`/bench.jar, the warehouse and `out`/bench.jsa unless
    they are current."""
    root, out = Path(root).resolve(), Path(out)
    files = sources(root)
    want = stamp(root, files)
    stamp_file = out / "build.stamp"
    if stamp_file.is_file() and stamp_file.read_text() == want:
        return
    out.mkdir(parents=True, exist_ok=True)
    stamp_file.unlink(missing_ok=True)
    (out / "bench.jsa").unlink(missing_ok=True)
    compile_jar(root, files, out)
    train(root, out)
    stamp_file.write_text(want)


if __name__ == "__main__":
    repo = Path(__file__).resolve().parent.parent
    ensure(repo, repo / ".bench_build")
