#!/usr/bin/env python3
"""Build the benchmark: compile the repository's Scala sources together with
the benchmark harness into one jar, then run the harness's self-test once
with a class-data-sharing archive dump, so later runs start their JVM from
that archive.

Usage: python3 perfbench/build.py        (from the repository root)

The build lands in .bench_build/perfbench-<hash of the sources>/ and is
reused while the sources are unchanged. The Spark and Scala jars are the
ones the repository's build.sbt names as its unmanagedBase (or
$SPARK_HOME/jars).
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD_ROOT = ROOT / ".bench_build"

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """The jar directory the repository builds against."""
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    raise BuildError("no Spark jars: build.sbt names no unmanagedBase directory and SPARK_HOME is unset")


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"no program sources at {main.relative_to(ROOT)}: run from a repository checkout")
    files = sorted(main.rglob("*.scala")) + sorted((BENCH / "scala").glob("*.scala"))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def jvm_options(heap):
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in JAVA_OPENS]
    # no hsperfdata file in the system temp dir
    return opts + [f"-Xmx{heap}", "-XX:-UsePerfData", "-Xlog:cds=off", "-Xlog:cds+dynamic=off", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
                   f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]


def build_dir():
    """The build for the current sources, made if missing. Returns its path."""
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files + [BENCH / "build.py", BENCH / "check_sqlite.py"]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update("\n".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    out = BUILD_ROOT / f"perfbench-{h.hexdigest()[:16]}"
    if (out / "BUILD_OK").is_file():
        return out, jars

    # the Scala 2.13 compiler that ships in the Spark jar directory
    scalac = [sorted(jars.glob(f"scala-{k}-2.13*.jar")) for k in ("compiler", "library", "reflect")]
    if not all(scalac):
        raise BuildError(f"no Scala 2.13 compiler jars in {jars}")
    scalac = [str(found[-1]) for found in scalac]
    BUILD_ROOT.mkdir(exist_ok=True)
    for old in list(BUILD_ROOT.glob("perfbench-*")) + list(BUILD_ROOT.glob("tmp-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = BUILD_ROOT / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    classes = tmp / "classes"
    classes.mkdir(parents=True)
    t0 = time.time()
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(scalac), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", str(jars / "*"), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compilation failed")
    jar = tmp / "graft-perfbench.jar"
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted(classes.rglob("*.class")):
            z.write(f, f.relative_to(classes).as_posix())
    shutil.rmtree(classes)
    print(f"[build] compiled {len(files)} sources in {time.time() - t0:.1f} s", file=sys.stderr)

    # the self-test both proves the checks bite and trains the class-data
    # sharing archive every later run starts from; it runs at the final
    # path, because the archive records the class path it was made with
    tmp.rename(out)
    t1 = time.time()
    work = out / "work"
    work.mkdir()
    cmd = (["java"] + jvm_options("2g") + [f"-XX:ArchiveClassesAtExit={out / 'app.jsa'}",
           f"-Djava.io.tmpdir={work}", "-cp", classpath(out, jars), "graft.perfbench.Bench", "--selftest",
           "--bench-dir", str(BENCH), "--work", str(work), "--out", str(out / "selftest.json"),
           "--python", sys.executable])
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=600)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError("self-test failed: a correctness check does not bite, or the program is broken")
    print(f"[build] self-test passed in {time.time() - t1:.1f} s", file=sys.stderr)
    (out / "BUILD_OK").write_text("ok\n")
    return out, jars


def classpath(build, jars):
    return os.pathsep.join([str(build / "graft-perfbench.jar"), str(jars / "*")])


if __name__ == "__main__":
    try:
        d, _ = build_dir()
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(1)
    print(d)
