"""Build the benchmark: the engine's main sources plus the harness in
perfbench/src, compiled with the Scala compiler that ships in Spark's jar
directory, into .bench_build/classes under the checkout root.

    python3 perfbench/build.py        # prints the classes directory

A build is skipped when a stamp of every source file still matches.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = ROOT / ".bench_build"


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the repository's build.sbt uses."""
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if not m:
        raise SystemExit("perfbench: set SPARK_HOME to the Spark installation")
    return Path(m.group(1))


def sources():
    """Scala sources and resources, in a stable order."""
    main = ROOT / "src" / "main"
    scala = sorted((main / "scala").rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    res_root = main / "resources"
    res = sorted(p for p in res_root.rglob("*") if p.is_file()) if res_root.is_dir() else []
    return scala, res_root, res


def stamp(files):
    h = hashlib.sha256()
    for f in files + [Path(__file__)]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(hashlib.sha256(f.read_bytes()).digest())
    return h.hexdigest()[:16]


def build():
    """Compile if needed; return (classes dir, source stamp, Spark jar dir)."""
    scala, res_root, res = sources()
    if not (ROOT / "src" / "main" / "scala").is_dir() or not scala:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    jars = spark_jars()
    if not jars.is_dir():
        raise SystemExit(f"perfbench: Spark jars not found at {jars}")
    tag = stamp(scala + res)
    classes = OUT / "classes"
    stamp_file = OUT / "stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == tag:
        return classes, tag, jars
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}", "-Xss8m", "-Xmx3g",
           "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp)]
    rc = subprocess.run(cmd + [str(p) for p in scala], cwd=ROOT).returncode
    if rc != 0:
        raise SystemExit(f"perfbench: compile failed ({rc})")
    for p in res:
        dst = tmp / p.relative_to(res_root)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(tag)
    return classes, tag, jars


if __name__ == "__main__":
    print(build()[0])
    sys.exit(0)
