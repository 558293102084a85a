#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) together with the benchmark's
sources (`perfbench/src`) with the Scala compiler that ships in the
Spark distribution and packs the classes into one jar. Everything goes
to `.bench_build/<source hash>/`; a build whose sources are unchanged
is reused. Run directly to build only:

  python3 perfbench/build.py
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent


def spark_jars() -> Path:
    """Jar dir of the Spark distribution: $SPARK_HOME, else the first
    one whose spark-submit is on PATH."""
    on_path = [Path(d, "spark-submit").resolve().parent.parent
               for d in os.environ.get("PATH", "").split(os.pathsep)
               if d and Path(d, "spark-submit").is_file()]
    for home in [os.environ.get("SPARK_HOME")] + on_path:
        if home and list(Path(home).glob("jars/scala-compiler-*.jar")):
            return Path(home) / "jars"
    raise SystemExit("no Spark distribution with a Scala compiler found; set SPARK_HOME")


def sources(root: Path):
    program = root / "src" / "main" / "scala"
    if not program.is_dir():
        raise SystemExit(f"program sources not found under {program}")
    return sorted(program.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def _run(cmd, env=None, what="build step"):
    r = subprocess.run(cmd, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise SystemExit(f"{what} failed:\n{r.stdout[-4000:]}")


def build(root: Path):
    """Returns the jar of the current sources."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs + [Path(__file__).resolve()]:
        h.update(p.name.encode())
        h.update(p.read_bytes())
    work = root / ".bench_build"
    work.mkdir(exist_ok=True)
    out = work / h.hexdigest()[:16]
    jar = out / "bench.jar"
    with open(work / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one build at a time per checkout
        if (out / "done").exists():
            return jar
        shutil.rmtree(out, ignore_errors=True)
        classes = out / "classes"
        classes.mkdir(parents=True)
        (out / "sources.txt").write_text("\n".join(map(str, srcs)) + "\n")
        _run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={out}", "-cp", str(spark_jars() / "*"),
              "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(classes),
              f"@{out / 'sources.txt'}"], what="compilation")
        with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
            for p in sorted(classes.rglob("*")):
                if p.is_file():
                    z.write(p, p.relative_to(classes).as_posix())
        shutil.rmtree(classes)
        (out / "done").write_text("")
        return jar


if __name__ == "__main__":
    print(build(HERE.parent))
