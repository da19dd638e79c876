"""Build file of the benchmark: compiles the program (src/main/scala)
and the benchmark's JVM side (perfbench/src) with scalac from the Spark
distribution's jars: the `unmanagedBase` directory build.sbt compiles
against, or $SPARK_JARS when set.

    python3 perfbench/build.py        # from the repository root

Output goes to .bench_build/classes, packed into program.jar and
bench.jar (class-data sharing archives classes from jars only); a stamp
of the sources' hash skips the compile when nothing changed. Exits with
code 2 when the program sources are missing.
"""
import hashlib
import os
import re
import subprocess
import sys
import zipfile
from pathlib import Path

# what spark-submit would add on JDK 17 (same list as build.sbt)
JVM_OPENS = [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def _sources(d: Path):
    return sorted(p for p in d.rglob("*.scala"))


def spark_jars(root: Path) -> str:
    if os.environ.get("SPARK_JARS"):
        return os.environ["SPARK_JARS"]
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (root / "build.sbt").read_text())
    if not m:
        sys.stderr.write("build.sbt names no unmanagedBase; set SPARK_JARS\n")
        sys.exit(2)
    return m.group(1)


def _scalac(jars: str, out: Path, sources, extra_cp=""):
    out.mkdir(parents=True, exist_ok=True)
    cp = f"{jars}/*" + (f":{extra_cp}" if extra_cp else "")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-cp", cp,
           "-d", str(out)] + [str(s) for s in sources]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(r.returncode or 1)


def _jar(classes: Path, jar: Path):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for p in sorted(classes.rglob("*")):
            if p.is_file():
                z.write(p, p.relative_to(classes).as_posix())


def build(root: Path) -> str:
    """Compiles if needed; returns the run classpath. A recompile deletes
    the class-data sharing archive run.py keeps next to the jars."""
    prog_src = root / "src" / "main" / "scala"
    bench_src = Path(__file__).resolve().parent / "src"
    prog, bench = _sources(prog_src), _sources(bench_src)
    if not prog or not bench:
        sys.stderr.write(f"no program sources under {prog_src}\n")
        sys.exit(2)
    jars = spark_jars(root)
    h = hashlib.sha256()
    for p in prog + bench:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    out = root / ".bench_build" / "classes"
    stamp = out / "STAMP"
    if not (stamp.is_file() and stamp.read_text() == h.hexdigest()):
        for f in (stamp, out / "app.jsa"):
            f.unlink(missing_ok=True)
        _scalac(jars, out / "program", prog)
        _scalac(jars, out / "bench", bench, str(out / "program"))
        for name in ("program", "bench"):
            _jar(out / name, out / f"{name}.jar")
        stamp.write_text(h.hexdigest())
    return f"{out / 'bench.jar'}:{out / 'program.jar'}:{jars}/*"


if __name__ == "__main__":
    print(build(Path.cwd()))
