"""Build the benchmark: compile the program and the benchmark into one jar,
then record a class-data-sharing archive for it.

Uses the Scala compiler that ships with the Spark jars, so no build tool
or dependency resolution is needed. The build directory is keyed on a
hash of every source file, so an unchanged tree is built once. The
class-data-sharing archive (recorded by running the self-test once) cuts
each benchmark JVM's class loading, which would otherwise dominate
set-up. The build fails if the archive is not recorded, so every run
uses it and runs of two builds stay comparable.

    python3 perfbench/build.py      # prints the build directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

COMPILE_TIMEOUT_S = 600
ARCHIVE_TIMEOUT_S = 240
HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def spark_jars() -> Path:
    """`$SPARK_HOME/jars`, else the `jars` beside the `spark-submit` on PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = str(Path(submit).resolve().parent.parent)
    jars = Path(home or ".") / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark/Scala jars under {jars} (set SPARK_HOME)")
    return jars


def sources(root: Path) -> list:
    main = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not main:
        raise SystemExit("perfbench: no program sources under src/main/scala; "
                         "run from the root of a checkout")
    return main + sorted((root / "perfbench" / "src").rglob("*.scala"))


def java_command(root: Path, out: Path, jvm_flags: list, args: list) -> list:
    """The benchmark JVM: `perfbench.Main args` on the built jar."""
    work = root / ".bench_build"
    # the throughput collector: under G1 the same run's GC time and widest
    # task varied twice as much
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Xlog:all=warning:stderr",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={root / 'perfbench' / 'log4j2.properties'}"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    return cmd + jvm_flags + [
        "-cp", f"{out / 'perfbench.jar'}{os.pathsep}{spark_jars() / '*'}",
        "perfbench.Main", "--work", str(work)] + args


def build(root: Path) -> Path:
    srcs = sources(root)
    h = hashlib.sha256(Path(__file__).read_bytes())
    for s in srcs:
        h.update(str(s.relative_to(root)).encode())
        h.update(s.read_bytes())
    base = root / ".bench_build"
    out = base / f"build-{h.hexdigest()[:16]}"
    if (out / ".ok").exists():
        return out
    shutil.rmtree(out, ignore_errors=True)
    classes = out / "classes"
    classes.mkdir(parents=True)
    (base / "tmp").mkdir(exist_ok=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cp = str(spark_jars() / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-d", str(classes), "-classpath", cp, "-nowarn", f"@{argfile}"]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=COMPILE_TIMEOUT_S)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        raise SystemExit(f"perfbench: compile failed ({proc.returncode})")
    with zipfile.ZipFile(out / "perfbench.jar", "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*.class")):
            z.write(f, f.relative_to(classes).as_posix())
    shutil.rmtree(classes)

    print("perfbench: recording the class-data-sharing archive", file=sys.stderr, flush=True)
    jsa = out / "app.jsa"
    try:
        subprocess.run(java_command(root, out, [f"-XX:ArchiveClassesAtExit={jsa}"],
                                    ["--selftest"]),
                       stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=ARCHIVE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    if not jsa.exists():
        raise SystemExit("perfbench: the class-data-sharing archive was not recorded")
    for old in base.glob("build-*"):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    (out / ".ok").write_text("ok\n")
    return out


def jvm_flags(out: Path) -> list:
    return [f"-XX:SharedArchiveFile={out / 'app.jsa'}"]


if __name__ == "__main__":
    print(build(Path.cwd()))
