"""Build file of the benchmark package: compiles graft's main sources
together with the benchmark's own Scala code (``perfbench/src``) into
one class directory, with the Scala compiler that ships in Spark's jar
directory. No build tool or network is needed.

    python3 perfbench/build.py [BUILD_DIR]

The build is skipped when the digest of every source file matches the
last successful build's stamp.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent


def spark_jars():
    """Spark's jar directory: under ``$SPARK_HOME``, else next to the
    ``spark-submit`` on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise RuntimeError("set SPARK_HOME or put spark-submit on the PATH")
        home = Path(submit).resolve().parent.parent
    return Path(home) / "jars"


def sources():
    main = sorted((REPO / "src" / "main" / "scala").rglob("*.scala"))
    own = sorted((HERE / "src").rglob("*.scala"))
    return main + own


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(REPO)).encode() + b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure(build_dir, timeout=600):
    """Return the class directory, compiling first if it is stale."""
    build_dir = Path(build_dir)
    files = sources()
    if not any(f.is_relative_to(REPO / "src") for f in files):
        raise RuntimeError(f"no graft sources under {REPO / 'src'}")
    stamp, classes = build_dir / "classes.stamp", build_dir / "classes"
    want = digest(files)
    if stamp.is_file() and stamp.read_text() == want and classes.is_dir():
        return classes
    tmp = build_dir / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = build_dir / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = f"{spark_jars()}/*"
    proc = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
         "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
         "-classpath", cp, f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=timeout)
    if proc.returncode != 0:
        raise RuntimeError("compile failed:\n" + proc.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(want)
    return classes


if __name__ == "__main__":
    print(ensure(sys.argv[1] if len(sys.argv) > 1 else REPO / ".bench_build"))
