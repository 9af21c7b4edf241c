"""Build file of the benchmark: compiles the engine's sources together with the
harness with the Scala compiler that ships among the Spark jars, so a fresh
checkout needs neither sbt nor a network, and packs the classes into
`<out>/build/graft.jar` (a jar, not a directory, so the JVM can map them from
a class-data archive; see `run.py`).

The output is keyed by a hash of every source file and the jar list: an
unchanged tree reuses it, any edit rebuilds it.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))


def jar_dir(root: str) -> str:
    """The Spark jars the engine builds against: `$SPARK_HOME/jars`, else the
    engine build's `unmanagedBase`."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(f"{root}/build.sbt").read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("graftbench: set SPARK_HOME (no Spark jar directory found)")
    return m.group(1)


def jars(root: str) -> list:
    d = jar_dir(root)
    found = sorted(glob.glob(f"{d}/*.jar"))
    if not found:
        raise SystemExit(f"graftbench: no Spark jars under {d}")
    return found


def sources(root: str) -> list:
    engine = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True))
    if not engine:
        raise SystemExit(f"graftbench: no engine sources under {root}/src/main/scala")
    return engine + sorted(glob.glob(f"{HERE}/harness/*.scala"))


def _compiler_cp(all_jars: list) -> str:
    want = ("scala-compiler-", "scala-library-", "scala-reflect-")
    picked = [j for j in all_jars if os.path.basename(j).startswith(want)]
    if len(picked) != 3:
        raise SystemExit("graftbench: scala compiler jars not found among the Spark jars")
    return ":".join(picked)


def build(root: str, out: str) -> tuple:
    """Compile if needed; returns (build directory, runtime classpath)."""
    srcs = sources(root)
    all_jars = jars(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(all_jars).encode())
    stamp = h.hexdigest()
    done = f"{out}/build"
    runtime_cp = f"{done}/graft.jar:" + ":".join(all_jars)
    if os.path.exists(f"{done}/.stamp") and open(f"{done}/.stamp").read() == stamp:
        return done, runtime_cp
    tmp = f"{done}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(f"{tmp}/classes")
    with open(f"{tmp}/sources.txt", "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", _compiler_cp(all_jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", f"{tmp}/classes",
           "-classpath", ":".join(all_jars), f"@{tmp}/sources.txt"]
    print(f"graftbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit("graftbench: compilation failed")
    with zipfile.ZipFile(f"{tmp}/graft.jar", "w", zipfile.ZIP_STORED) as z:
        for d, dirs, files in sorted(os.walk(f"{tmp}/classes")):
            dirs.sort()
            for name in sorted(files):
                p = os.path.join(d, name)
                z.write(p, os.path.relpath(p, f"{tmp}/classes"))
    shutil.rmtree(f"{tmp}/classes")
    with open(f"{tmp}/.stamp", "w") as f:
        f.write(stamp)
    shutil.rmtree(done, ignore_errors=True)
    os.rename(tmp, done)
    return done, runtime_cp
