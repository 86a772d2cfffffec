"""Build for the connector benchmark.

Compiles the connector (`src/main/scala`) and then the benchmark's own
sources (`perfbench/src`) with the Scala compiler that ships among the Spark
jars the repository's build.sbt names as `unmanagedBase`. Main code needs no
other dependency, so no sbt, network or ivy cache is involved. Class
directories are keyed by a hash of their sources and cached under the build
directory (`$CARGO_TARGET_DIR`, default `.bench_build`), so only the first run
in a checkout compiles.

    python3 perfbench/build.py      # build only, print the classpath
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COMPILE_TIMEOUT_S = 800

# JDK 17 module opens Spark needs outside spark-submit (the same list as
# org.apache.spark.launcher.JavaModuleOptions and the repo's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def build_dir(root):
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(root, d) if not os.path.isabs(d) else d


def spark_jars(root):
    """The jar directory the repository's build.sbt compiles against."""
    sbt = os.path.join(root, "build.sbt")
    if not os.path.isfile(sbt):
        raise BuildError("no build.sbt at the repository root")
    with open(sbt) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not glob.glob(os.path.join(m.group(1), "scala-compiler-*.jar")):
        raise BuildError("build.sbt names no unmanagedBase holding the Scala compiler")
    return m.group(1)


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _digest(paths, extra):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _compile(jars, classpath, sources, out, log):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cp = os.pathsep.join([os.path.join(jars, "*"), *classpath])
    cmd = ["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    with open(log, "w") as lf:
        try:
            rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                timeout=COMPILE_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    os.remove(argfile)
    if rc != 0:
        with open(log) as lf:
            tail = lf.read()[-4000:]
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac failed ({rc}):\n{tail}")
    os.rename(tmp, out)


def ensure_built(root):
    """Compile what is missing; return the runtime classpath."""
    main_src = _sources(os.path.join(root, "src", "main", "scala"))
    bench_src = _sources(os.path.join(HERE, "src"))
    if not main_src:
        raise BuildError("no connector sources under src/main/scala")
    if not bench_src:
        raise BuildError("no benchmark sources under perfbench/src")
    jars = spark_jars(root)
    jar_list = ",".join(sorted(os.listdir(jars)))
    bd = build_dir(root)
    os.makedirs(os.path.join(bd, "classes"), exist_ok=True)
    main_key = _digest(main_src, jar_list)
    main_out = os.path.join(bd, "classes", "main-" + main_key)
    bench_out = os.path.join(bd, "classes",
                             "bench-" + _digest(bench_src, main_key))
    with open(os.path.join(bd, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.isdir(main_out):
            _compile(jars, [], main_src, main_out, os.path.join(bd, "main.log"))
        if not os.path.isdir(bench_out):
            _compile(jars, [main_out], bench_src, bench_out,
                     os.path.join(bd, "bench.log"))
    return os.pathsep.join([bench_out, main_out, os.path.join(jars, "*")])


def jvm_options(work):
    opts = []
    for p in ADD_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    return opts + [
        "-XX:-UsePerfData", "-Xmx3g", "-Xss4m",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dgraft.store.lockdir=" + os.path.join(work, "locks"),
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
    ]


if __name__ == "__main__":
    try:
        print(ensure_built(os.getcwd()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
