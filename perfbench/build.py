"""Build file of the benchmark: compiles graft's main sources together
with the benchmark and its tests into one class directory, using the Scala
compiler that ships among Spark's jars, and says how to launch a JVM on
the result.

The build is skipped when a stamp over every source file, the compiler
and the flags is unchanged.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
SCALAC_FLAGS = ["-nowarn", "-encoding", "UTF-8"]

# Spark 4 on JDK 17 outside spark-submit needs the module openings that
# spark-submit would pass (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("SPARK_HOME must point at a Spark 4 installation with a jars/ directory")
    return Path(home) / "jars"


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    return str(exe) if exe and exe.is_file() else "java"


def sources(root: Path) -> list:
    graft = root / "src" / "main" / "scala"
    if not graft.is_dir():
        raise BuildError(f"no graft sources under {graft}; run from the root of a graft checkout")
    files = sorted(graft.rglob("*.scala"))
    for d in ("src", "tests"):
        files += sorted((HERE / d).rglob("*.scala"))
    return [f for f in files if f.is_file()]


def _stamp(files: list, jars: Path) -> str:
    h = hashlib.sha256()
    compiler = sorted(p.name for p in jars.glob("scala-*.jar"))
    h.update(repr((compiler, SCALAC_FLAGS)).encode())
    for f in files:
        h.update(str(f).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(root: Path, out: Path) -> Path:
    """Compile into `out/classes` unless the stamp is current; returns it."""
    jars = spark_jars()
    files = sources(root)
    classes = out / "classes"
    stamp_file = out / "build.stamp"
    stamp = _stamp(files, jars)
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    compiler = [str(p) for p in sorted(jars.glob("scala-*.jar"))
                if p.name.split("-")[1] in ("compiler", "library", "reflect")]
    if len(compiler) != 3:
        raise BuildError(f"scala compiler, library and reflect jars not found in {jars}")
    argfile = out / "scalac.args"
    argfile.write_text("\n".join(
        SCALAC_FLAGS + ["-classpath", f"{jars}/*", "-d", str(classes)] + [str(f) for f in files]))
    print(f"[perfbench] compiling {len(files)} Scala files", file=sys.stderr, flush=True)
    proc = subprocess.run(
        [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
         "scala.tools.nsc.Main", f"@{argfile}"],
        stdout=sys.stderr, stderr=sys.stderr, timeout=800)
    if proc.returncode != 0:
        shutil.rmtree(classes, ignore_errors=True)
        raise BuildError(f"scalac failed with exit code {proc.returncode}")
    stamp_file.write_text(stamp)
    return classes


def jvm_command(classes: Path, work: Path, main: str, heap: str = "3g") -> list:
    """`java …` for a benchmark main on the built classes, with scratch
    (JVM temp, Spark warehouse) kept under `work`."""
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -UsePerfData: HotSpot would otherwise write its perf-data file to
    # the system temp directory, outside the checkout
    return [java(), f"-Xmx{heap}", "-XX:+UseG1GC", "-XX:-UsePerfData", *opens,
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
            "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-cp", f"{classes}:{spark_jars()}/*", main]


def jvm_env(work: Path) -> dict:
    """Environment for the benchmark JVM: Spark's shuffle scratch under `work`."""
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    env["SPARK_GRAFT_LOCAL_DIR"] = str(work / "spark-local")
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    return env
