"""Build file for the benchmark: compiles the program's main sources and the
benchmark's own sources with the Scala compiler that ships in Spark's jars.

The output goes to `.bench_build/perfbench-<key>/` at the checkout root,
keyed by a hash of every input, so an unchanged tree builds once.

    python3 perfbench/build.py      # prints the classpath it built
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
MAIN_SCALA = os.path.join(ROOT, "src", "main", "scala")
MAIN_RESOURCES = os.path.join(ROOT, "src", "main", "resources")
OUT_ROOT = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """Spark's jars: `$SPARK_HOME/jars`, else the `unmanagedBase` directory
    the program's own build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        jars_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        if not m:
            raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase jar directory")
        jars_dir = m.group(1)
    if not os.path.isdir(jars_dir):
        raise BuildError(f"no Spark jars at {jars_dir}; set SPARK_HOME")
    return sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir) if j.endswith(".jar"))


def files_under(top, suffix=""):
    out = []
    for d, _, fs in os.walk(top):
        out += [os.path.join(d, f) for f in fs if f.endswith(suffix)]
    return sorted(out)


def source_key(groups):
    h = hashlib.sha256()
    for f in sorted(x for g in groups for x in g):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def scalac(classpath, out_dir, sources):
    cp = os.pathsep.join(classpath)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", out_dir] + sources
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])


def build():
    """Compile if needed; returns (classpath list, source key)."""
    if not os.path.isdir(MAIN_SCALA):
        raise BuildError(f"program sources not found at {MAIN_SCALA}")
    main_src = files_under(MAIN_SCALA, ".scala")
    resources = files_under(MAIN_RESOURCES) if os.path.isdir(MAIN_RESOURCES) else []
    bench_src = files_under(os.path.join(BENCH, "src"), ".scala")
    if not main_src or not bench_src:
        raise BuildError("no Scala sources to build")
    key = source_key([main_src, resources, bench_src])
    jars = spark_jars()
    out = os.path.join(OUT_ROOT, "perfbench-" + key[:16])
    classes = [os.path.join(out, "bench"), os.path.join(out, "main")]
    if os.path.exists(os.path.join(out, "OK")):
        return classes + jars, key
    os.makedirs(OUT_ROOT, exist_ok=True)
    stage = tempfile.mkdtemp(prefix="stage-", dir=OUT_ROOT)
    try:
        main_dir = os.path.join(stage, "main")
        bench_dir = os.path.join(stage, "bench")
        os.makedirs(main_dir)
        os.makedirs(bench_dir)
        scalac(jars, main_dir, main_src)
        for r in resources:
            dst = os.path.join(main_dir, os.path.relpath(r, MAIN_RESOURCES))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(r, dst)
        scalac([main_dir] + jars, bench_dir, bench_src)
        open(os.path.join(stage, "OK"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(stage, out)
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    return classes + jars, key


if __name__ == "__main__":
    try:
        cp, _ = build()
    except BuildError as e:
        print(f"perfbench build: {e}", file=sys.stderr)
        sys.exit(2)
    print(os.pathsep.join(cp))
