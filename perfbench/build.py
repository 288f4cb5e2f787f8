"""Build file of the benchmark: compiles the program (src/main/scala of the
checkout) and the benchmark's own sources (perfbench/src) with the Scala
compiler that ships in the Spark distribution, into .bench_build/.

A build is keyed by a hash of every source file, so an unchanged tree is
built once. Usage: python3 perfbench/build.py (from the checkout root).
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    jars = Path(home) / "jars" if home else Path("/opt/spark/jars")
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"perfbench: no Spark distribution with a Scala compiler at {jars}")
    return jars


def sources(root: Path) -> list:
    main = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not main:
        raise SystemExit(f"perfbench: no program sources under {root}/src/main/scala")
    return main + sorted((BENCH / "src").rglob("*.scala"))


def build(root: Path) -> Path:
    """Returns the classes directory, compiling first if needed."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256(Path(__file__).read_bytes())
    for f in srcs:
        h.update(str(f.relative_to(root)).encode() + b"\0" + f.read_bytes())
    out = root / ".bench_build" / f"classes-{h.hexdigest()[:16]}"
    if (out / ".ok").exists():
        return out
    tmp = out.with_name(out.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    argfile.unlink()
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    (out / ".ok").touch()
    for old in out.parent.glob("classes-*"):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


if __name__ == "__main__":
    print(build(Path.cwd()))
