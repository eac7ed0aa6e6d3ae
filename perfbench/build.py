"""Build file of the benchmark package.

Compiles the program (src/main/scala, plus src/main/resources) together with
the benchmark program (perfbench/src) into .bench_build/<digest>/classes,
using the Scala compiler that ships in Spark's jars: the directory that
build.sbt names as `unmanagedBase`, the jar set the program's sbt build
compiles against, or else $SPARK_HOME/jars. A build is reused while no
source file changes. Nothing is read from or written to outside the
checkout except the JDK and Spark's jars.

    python3 perfbench/build.py     # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path



def spark_jars(root):
    """Spark's jar directory: build.sbt's unmanagedBase, else $SPARK_HOME/jars."""
    sbt = root / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if m:
        return Path(m.group(1))
    if os.environ.get("SPARK_HOME"):
        return Path(os.environ["SPARK_HOME"]) / "jars"
    raise SystemExit("perfbench: no Spark jars: build.sbt names no unmanagedBase and SPARK_HOME is unset")


def sources(root):
    """(program sources, program resources, benchmark sources)."""
    prog = sorted((root / "src/main/scala").rglob("*.scala"))
    res_root = root / "src/main/resources"
    res = sorted(p for p in res_root.rglob("*") if p.is_file()) if res_root.is_dir() else []
    bench = sorted((root / "perfbench/src").rglob("*.scala"))
    return prog, res, bench


def digest(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build(root, log=sys.stderr):
    """Returns (classes dir, source digest), compiling if needed."""
    root = Path(root).resolve()
    prog, res, bench = sources(root)
    if not prog:
        raise SystemExit(f"perfbench: no program sources under {root}/src/main/scala")
    if not bench:
        raise SystemExit("perfbench: no benchmark sources under perfbench/src")
    jars = spark_jars(root)
    if not jars.is_dir():
        raise SystemExit(f"perfbench: Spark jars not found at {jars}")
    key = digest(root, prog + res + bench)
    out = root / ".bench_build" / key
    classes = out / "classes"
    if (out / "ok").exists():
        return classes, key
    staging = root / ".bench_build" / f"staging-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    (staging / "classes").mkdir(parents=True)
    (staging / "tmp").mkdir()
    argfile = staging / "sources.txt"
    # paths relative to the root, which the compiler runs in
    argfile.write_text("\n".join(str(p.relative_to(root)) for p in prog + bench) + "\n")
    print(f"perfbench: compiling {len(prog)} program and {len(bench)} benchmark sources",
          file=log, flush=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={staging / 'tmp'}",
           "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(staging / "classes"), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=log, stderr=log, cwd=root)
    if r.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed ({r.returncode})")
    for f in res:
        dst = staging / "classes" / f.relative_to(root / "src/main/resources")
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(f, dst)
    shutil.rmtree(staging / "tmp")
    shutil.rmtree(out, ignore_errors=True)
    # drop builds of other source versions, then publish this one
    for old in (root / ".bench_build").iterdir():
        if old.is_dir() and old != staging:
            shutil.rmtree(old, ignore_errors=True)
    staging.rename(out)
    (out / "ok").write_text(key + "\n")
    return classes, key


if __name__ == "__main__":
    print(build(Path.cwd())[0])
