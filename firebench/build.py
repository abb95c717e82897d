"""Build file of the benchmark: compiles the program (`src/main/scala`)
together with the harness (`firebench/src`) with scalac, against the
Spark jars the program's own `build.sbt` names (`unmanagedBase`).

The classes land in `<build_dir>/classes-<stamp>`, where the stamp
hashes every source file, so an unchanged tree is not rebuilt.

Usage: python3 firebench/build.py [build_dir]   (from the repo root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def spark_jars(root):
    """The jar directory the program builds against."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (root / "build.sbt").read_text())
    if not (m and Path(m.group(1)).is_dir()):
        raise SystemExit("build.sbt names no existing unmanagedBase jar directory")
    return Path(m.group(1))


def sources(root):
    program = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        raise SystemExit(f"no program sources under {root / 'src/main/scala'}")
    return program + sorted((HERE / "src").rglob("*.scala"))


def build(root, build_dir):
    """Compiles if needed; returns the runtime classpath."""
    root, build_dir = Path(root).resolve(), Path(build_dir).resolve()
    jars = spark_jars(root)
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(str(s.relative_to(root)).encode())
        h.update(s.read_bytes())
    out = build_dir / f"classes-{h.hexdigest()[:16]}"
    cp = f"{out}{os.pathsep}{jars}/*"
    if (out / "_OK").exists():
        return cp
    for old in build_dir.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    out.mkdir(parents=True)
    tmp = build_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    argfile = build_dir / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-classpath", f"{jars}/*", "-d", str(out),
           f"@{argfile}"]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=840)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit("build failed")
    (out / "_OK").write_text("ok\n")
    return cp


if __name__ == "__main__":
    print(build(Path.cwd(), sys.argv[1] if len(sys.argv) > 1 else ".bench_build/firebench"))
