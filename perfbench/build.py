"""Build file of the benchmark: compiles the product's Scala sources
(src/main/scala) together with the harness (perfbench/src) against the
Spark jars, with scalac run straight from those jars.

The output goes to <build dir>/classes and is reused while a hash of
every source file is unchanged.

    python3 perfbench/build.py            # build into .bench_build/perfbench
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """The Spark distribution's jars: $SPARK_JARS, $SPARK_HOME/jars, or
    the jars next to the spark-submit on PATH."""
    submit = shutil.which("spark-submit")
    for cand in (os.environ.get("SPARK_JARS"),
                 os.environ.get("SPARK_HOME") and
                 str(Path(os.environ["SPARK_HOME"]) / "jars"),
                 submit and str(Path(submit).resolve().parent.parent / "jars")):
        if cand and Path(cand).is_dir() and any(Path(cand).glob("scala-compiler-*.jar")):
            return Path(cand)
    raise BuildError("no Spark jars directory with a Scala compiler found "
                     "(set SPARK_JARS or SPARK_HOME)")


def sources(root: Path) -> list:
    product = root / "src" / "main" / "scala"
    harness = root / "perfbench" / "src"
    if not product.is_dir():
        raise BuildError(f"product sources not found at {product}")
    if not harness.is_dir():
        raise BuildError(f"harness sources not found at {harness}")
    files = sorted(product.rglob("*.scala")) + sorted(harness.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources to build")
    return files


def build_dir(root: Path) -> Path:
    base = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    if not base.is_absolute():
        base = root / base
    return base / "perfbench"


def build(root: Path) -> Path:
    """Compile if needed; return the classes directory."""
    files = sources(root)
    jars = spark_jars()
    h = hashlib.sha256(str(jars).encode())
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    out = build_dir(root)
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    print(f"building {len(files)} sources ...", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(build(Path(__file__).resolve().parent.parent))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
