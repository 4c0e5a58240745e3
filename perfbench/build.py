"""Build file of the benchmark package: compiles graft's sources plus the
benchmark's JVM program (`perfbench/src`) with the Scala compiler that
ships in the Spark distribution, and generates the benchmark corpus. Outputs go to
`$CARGO_TARGET_DIR/perfbench` (default `.bench_build/perfbench`) under the
checkout root and are reused while the sources are unchanged.

    python3 perfbench/build.py        # build only; prints the class dir
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

import gen_data

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")

# Spark 4 on JDK 17 outside spark-submit needs these (the list the
# project's build.sbt passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def out_dir():
    base = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    if not os.path.isabs(base):
        base = os.path.join(ROOT, base)
    return os.path.join(base, "perfbench")


def spark_jars_dir():
    """The Spark jar directory the project's build.sbt compiles against
    (`unmanagedBase`), else `$SPARK_HOME/jars`."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise BuildError("no Spark jar directory: build.sbt names none and SPARK_HOME is unset")


def spark_classpath():
    d = spark_jars_dir()
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {d}")
    return jars


def sources():
    if not os.path.isdir(os.path.join(GRAFT_SRC, "graft")):
        raise BuildError(f"graft sources not found under {GRAFT_SRC}")
    files = []
    for d in (GRAFT_SRC, BENCH_SRC):
        for dp, _, fs in os.walk(d):
            files += [os.path.join(dp, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(log=sys.stderr):
    """Returns (class dir, source hash), compiling only when needed."""
    files = sources()
    key = source_hash(files)
    classes = os.path.join(out_dir(), "classes-" + key)
    if os.path.exists(os.path.join(classes, "BUILD_OK")):
        return classes, key
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.pathsep.join(spark_classpath())
    argfile = os.path.join(out_dir(), "scalac-args-" + key)
    with open(argfile, "w") as fh:
        fh.write("\n".join(["-nowarn", "-d", classes, "-classpath", cp] + files))
    print(f"[perfbench] compiling {len(files)} sources into {classes}", file=log)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
                        "scala.tools.nsc.Main", "@" + argfile],
                       stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError("scalac failed")
    open(os.path.join(classes, "BUILD_OK"), "w").close()
    return classes, key


def java_command(classes, heap, tmpdir):
    cp = os.pathsep.join([classes] + spark_classpath())
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file under /tmp.
    # -XX:TieredStopAtLevel=1 (C1 only): under tiered C2 a read run was
    # still on its JIT warm-up slope after 80 operations, so its medians
    # depended on how fast the host let the compiler threads go; C1 code
    # is slower but flat after a few operations. The code cache is sized
    # for C1 output plus Spark's generated classes: at the 48 MB C1
    # default it filled about 20 s into a read run, was flushed, and every
    # method was compiled again. -Xms: G1 does not resize the heap mid-run.
    return (["java", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1",
             "-XX:ReservedCodeCacheSize=256m", f"-Xms{heap}", f"-Xmx{heap}",
             f"-Djava.io.tmpdir={tmpdir}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", cp, "graftbench.Main"])


def corpus(sf):
    """Directory of the generated corpus at scale `sf` (made once)."""
    d = os.path.join(out_dir(), "data", f"{gen_data.VERSION}-sf{sf}")
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen_data.generate(d, sf)
        open(os.path.join(d, "DONE"), "w").close()
    return d


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
