"""Build file of the medbench package.

Compiles the engine sources (src/main/scala and src/main/resources of the
enclosing repository) together with the benchmark's own sources
(medbench/src) into one class directory, with the Scala compiler that ships
in the Spark distribution's jars directory. No dependency is resolved or
downloaded: the Spark jars are the whole classpath, exactly as the repo's
build.sbt uses them (its `unmanagedBase`).

The build is skipped when a stamp of every input file still matches.

    python3 medbench/build.py          # build (or confirm up to date)
    python3 medbench/build.py --print  # build, then print the classpath

Output goes to $CARGO_TARGET_DIR/medbench (default .bench_build/medbench).
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ENGINE_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = BENCH_DIR / "src"


class BuildError(Exception):
    pass


def build_dir() -> Path:
    base = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    if not base.is_absolute():
        base = ROOT / base
    return base / "medbench"


def spark_jars() -> Path:
    """The Spark jars directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("no Spark jars directory: set SPARK_HOME")


def sources():
    if not ENGINE_SRC.is_dir():
        raise BuildError(f"engine sources not found under {ENGINE_SRC.relative_to(ROOT)}")
    engine = sorted(ENGINE_SRC.rglob("*.scala"))
    bench = sorted(BENCH_SRC.rglob("*.scala"))
    if not engine or not bench:
        raise BuildError("no Scala sources to compile")
    resources = sorted(p for p in ENGINE_RES.rglob("*") if p.is_file()) if ENGINE_RES.is_dir() else []
    return engine + bench, resources


def stamp(files, jars: Path) -> str:
    h = hashlib.sha256()
    for p in files + [Path(__file__)]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    h.update("\n".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    return h.hexdigest()


def compiler_cp(jars: Path) -> str:
    names = ["scala-compiler", "scala-library", "scala-reflect"]
    found = []
    for n in names:
        hits = sorted(jars.glob(f"{n}-2.13*.jar"))
        if not hits:
            raise BuildError(f"{n} jar missing from {jars}")
        found.append(str(hits[-1]))
    return os.pathsep.join(found)


def build(quiet: bool = False) -> str:
    """Build if stale; return the runtime classpath."""
    jars = spark_jars()
    srcs, resources = sources()
    out = build_dir()
    classes = out / "classes"
    stamp_file = out / "stamp"
    want = stamp(srcs + resources, jars)
    cp = os.pathsep.join([str(classes), str(jars / "*")])
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == want:
        return cp
    out.mkdir(parents=True, exist_ok=True)
    fresh = out / "classes.new"
    shutil.rmtree(fresh, ignore_errors=True)
    fresh.mkdir()
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(f'"{p}"' for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler_cp(jars), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(fresh), "-classpath", str(jars / "*"), f"@{argfile}"]
    if not quiet:
        print(f"[medbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if done.returncode != 0:
        raise BuildError(f"scalac failed with code {done.returncode}")
    for r in resources:
        dst = fresh / r.relative_to(ENGINE_RES)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(r, dst)
    shutil.rmtree(classes, ignore_errors=True)
    fresh.rename(classes)
    stamp_file.write_text(want)
    return cp


def main() -> int:
    try:
        cp = build()
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"[medbench] build failed: {e}", file=sys.stderr)
        return 2
    if "--print" in sys.argv[1:]:
        print(cp)
    return 0


if __name__ == "__main__":
    sys.exit(main())
