"""Build file of the benchmark: compiles the program's sources together
with the benchmark's own into one class directory.

The program is compiled from source in the checkout (src/main/scala)
with the Scala compiler that ships in Spark's jar directory, so the
build needs no dependency resolution. Output goes under .bench_build/,
keyed by a hash of every source, so an unchanged tree is built once.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
BUILD_DIR = ".bench_build"


class BuildError(RuntimeError):
    pass


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(Path(submit).resolve().parent.parent / "jars")
    for c in candidates:
        if any(c.glob("scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jar directory with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources(root: Path) -> list:
    program = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        raise BuildError(f"no program sources under {root / 'src/main/scala'}: "
                         "run from the root of a checkout")
    return program + sorted((HERE / "src").glob("*.scala"))


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    return str(exe) if exe and exe.exists() else "java"


def ensure_built(root: Path) -> str:
    """Returns the run classpath, compiling first if the sources changed."""
    root = root.resolve()
    srcs = sources(root)
    jars = spark_jars()
    h = hashlib.sha256(str(sorted(p.name for p in jars.glob("*.jar"))).encode())
    for p in srcs:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    out = root / BUILD_DIR / f"e2ebench-{h.hexdigest()[:16]}"
    resources = root / "src" / "main" / "resources"
    classpath = os.pathsep.join([str(out / "classes")] +
                                ([str(resources)] if resources.is_dir() else []) +
                                [str(jars / "*")])
    if (out / "OK").exists():
        return classpath
    tmp = Path(f"{out}.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    (tmp / "classes").mkdir(parents=True)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp / "classes"),
           "-classpath", str(jars / "*")]
    cmd += [str(p) for p in srcs]
    print(f"e2ebench: compiling {len(srcs)} sources", file=sys.stderr)
    proc = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed with exit code {proc.returncode}")
    (tmp / "OK").write_text("ok\n")
    if out.exists():  # built concurrently by another run
        shutil.rmtree(tmp, ignore_errors=True)
    else:
        tmp.rename(out)
    return classpath


if __name__ == "__main__":
    try:
        print(ensure_built(Path.cwd()))
    except BuildError as e:
        sys.exit(f"e2ebench build: {e}")
