"""Build file of the benchmark: compiles the program (src/main/scala of the
checkout) and the benchmark's own Scala sources with the Scala compiler that
ships among the Spark jars, into .bench_build/perfbench.

Each stage is skipped when the digest of its sources matches the last build.
The Spark jar directory is $SPARK_HOME/jars, or the `unmanagedBase` that the
checkout's build.sbt declares.

    python3 perfbench/build.py     # prints the run classpath
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build" / "perfbench"


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("no Spark jars: set SPARK_HOME or declare unmanagedBase in build.sbt")


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sources(d, pattern="*.scala"):
    return sorted(p for p in d.rglob(pattern) if p.is_file())


def compile_stage(name, srcs, extra_cp, jars, key):
    dest = OUT / name
    stamp = OUT / f"{name}.stamp"
    if dest.is_dir() and stamp.is_file() and stamp.read_text() == key:
        return dest
    tmp = OUT / f"{name}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp)]
    if extra_cp:
        cmd += ["-classpath", os.pathsep.join(map(str, extra_cp))]
    r = subprocess.run(cmd + [str(s) for s in srcs], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed for {name}:\n{r.stdout[-4000:]}")
    shutil.rmtree(dest, ignore_errors=True)
    tmp.rename(dest)
    stamp.write_text(key)
    return dest


def build():
    """Compile what changed; return the classpath entries of a run."""
    main_src = ROOT / "src" / "main" / "scala"
    bench_src = HERE / "src"
    if not main_src.is_dir() or not sources(main_src):
        raise BuildError(f"no program sources under {main_src.relative_to(ROOT)}")
    jars = spark_jars()
    OUT.mkdir(parents=True, exist_ok=True)
    resources = ROOT / "src" / "main" / "resources"
    main_files = sources(main_src) + (sources(resources, "*") if resources.is_dir() else [])
    main_key = digest(main_files)
    main = compile_stage("main", sources(main_src), [], jars, main_key)
    if resources.is_dir():
        shutil.copytree(resources, main, dirs_exist_ok=True)
    bench = compile_stage("bench", sources(bench_src), [main], jars,
                          main_key + digest(sources(bench_src)))
    return [bench, main, Path(f"{jars}/*")], main_key


if __name__ == "__main__":
    try:
        cp, _ = build()
    except BuildError as e:
        sys.exit(f"build failed: {e}")
    print(os.pathsep.join(map(str, cp)))
