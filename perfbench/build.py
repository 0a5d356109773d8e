#!/usr/bin/env python3
"""Build step of the benchmark: compiles the program's main sources
together with the harness in perfbench/src into one jar, records the
classes a short training run loads in a class-data sharing archive (it
takes the JVM's class loading out of every run's set-up), dumps the
oracle SQL of the query-mix set and counts its rows with DuckDB on the
fixture tables.

Everything lands in .bench_build/ at the repository root. A stamp over
the sources skips the build when nothing changed. Run from the
repository root:  python3 perfbench/build.py
"""
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile

BUILD = ".bench_build"
JAR = os.path.join(BUILD, "graftbench.jar")
ARCHIVE = os.path.join(BUILD, "graftbench.jsa")
STAMP = os.path.join(BUILD, "STAMP")
ORACLE_SQL = os.path.join(BUILD, "oracle_sql.json")
ORACLE_COUNTS = os.path.join(BUILD, "oracle_counts.json")
FIXTURE = "perfbench/fixtures/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


HEAP = "3g"
# the JVM's default perf-counter file would be written under the system
# temporary directory, outside the checkout
NO_PERF_FILE = "-XX:-UsePerfData"
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io",
         "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent",
         "java.base/java.util.concurrent.atomic", "java.base/jdk.internal.ref",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs",
         "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BuildError(Exception):
    pass


def jvm(jars, work, *extra):
    """The harness JVM command line up to the main class arguments."""
    return (["java", NO_PERF_FILE] + [f"--add-opens={p}=ALL-UNNAMED" for p in OPENS] +
            [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
             "-Dlog4j2.configurationFile=perfbench/log4j2.properties"] +
            list(extra) + ["-cp", classpath(jars), "graftbench.Main"])


def spark_jars():
    """The Spark distribution's jar directory (it carries the Scala
    compiler the program is built with)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("no SPARK_HOME and no spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler among the Spark jars in {jars}")
    return jars


def sources():
    prog = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not prog:
        raise BuildError("program sources (src/main/scala) not found; "
                         "run from the repository root")
    return prog + sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))


def stamp_of(files):
    h = hashlib.sha256()
    for f in files + ["perfbench/build.py"] + sorted(glob.glob(FIXTURE + "/*.parquet")):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath(jars):
    # a jar, not a class directory: class-data sharing takes jars only
    return os.pathsep.join([JAR, os.path.join(jars, "*")])


def compile_all(files, jars):
    tmp = os.path.join(BUILD, "classes")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", NO_PERF_FILE, "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    with zipfile.ZipFile(JAR, "w") as z:
        for d, _, names in sorted(os.walk(tmp)):
            for n in sorted(names):
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, tmp))
    shutil.rmtree(tmp)


def train(jars):
    work = os.path.abspath(os.path.join(BUILD, "train"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    cmd = jvm(jars, work, f"-XX:ArchiveClassesAtExit={ARCHIVE}") + [
        "train", "--root", os.getcwd(), "--work", work,
        "--nproc", str(len(os.sched_getaffinity(0)))]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=300)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(ARCHIVE):
        raise BuildError("training run failed:\n" + r.stdout[-4000:])


def oracle_counts(jars):
    r = subprocess.run(["java", NO_PERF_FILE, "-cp", classpath(jars),
                        "graftbench.Main", "dump-oracle", ORACLE_SQL],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=120)
    if r.returncode != 0:
        raise BuildError("oracle dump failed:\n" + r.stdout[-4000:])
    import duckdb
    with open(ORACLE_SQL) as fh:
        sql = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{FIXTURE}/{t}.parquet')")
    counts = {}
    for name, q in sql.items():
        if q:
            counts[name] = len(con.execute(q).fetchall())
    with open(ORACLE_COUNTS, "w") as fh:
        json.dump(counts, fh, indent=1, sort_keys=True)


def ensure():
    """Builds if the sources changed; returns the Spark jar directory and
    the source stamp."""
    jars = spark_jars()
    files = sources()
    stamp = stamp_of(files)
    if os.path.exists(STAMP) and os.path.exists(ORACLE_COUNTS):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return jars, stamp
    os.makedirs(BUILD, exist_ok=True)
    compile_all(files, jars)
    train(jars)
    oracle_counts(jars)
    with open(STAMP, "w") as fh:
        fh.write(stamp + "\n")
    return jars, stamp


if __name__ == "__main__":
    try:
        print(ensure()[1])
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
