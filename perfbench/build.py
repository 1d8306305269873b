"""Build step of the benchmark.

Compiles graft's sources (`src/main/scala`) together with the harness
(`perfbench/src`) using the Scala compiler that ships in the Spark jars,
and generates the bank_mix tables with `graft.GenTestData`. Both outputs
live under the build directory and are reused while the sources are
unchanged.
"""
import glob
import hashlib
import os
import re
import shutil
import signal
import subprocess



def spark_jars(root):
    """The Spark jars graft builds against: `$SPARK_HOME/jars`, else the
    `unmanagedBase` of the repo's build.sbt."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise RuntimeError("no Spark jars: set SPARK_HOME")
    return m.group(1)


# Spark 4 on JDK 17 needs these outside spark-submit (the same list as the
# repo's build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def sources(root):
    out = []
    for d in ("src/main/scala", "perfbench/src"):
        for base, _, files in os.walk(os.path.join(root, d)):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def java_cmd(tmp, heap):
    os.makedirs(tmp, exist_ok=True)
    return ["java", f"-Xmx{heap}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS


def run_logged(cmd, log_path, timeout):
    """Run `cmd` in its own process group with its output in `log_path`.
    Returns the exit code, or None on timeout; the group is killed and
    reaped whatever happens."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def compile_classes(root, build_dir):
    """Compiled classes for the current sources; builds when stale."""
    srcs = sources(root)
    jars = spark_jars(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    classes = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(classes, ".done")):
        return classes
    os.makedirs(classes, exist_ok=True)
    argfile = os.path.join(build_dir, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = java_cmd(os.path.join(build_dir, "tmp"), "2g") + [
        "-Xss8m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
        "-nowarn", "-d", classes, "-classpath", f"{jars}/*", "@" + argfile]
    log = os.path.join(build_dir, "scalac.log")
    if run_logged(cmd, log, 800) != 0:
        raise RuntimeError(f"compile failed, see {log}")
    open(os.path.join(classes, ".done"), "w").close()
    drop_others(os.path.join(build_dir, "classes-*"), classes)
    return classes


def ensure_data(root, build_dir, classes, sf):
    """The bank_mix tables at scale factor `sf` (GenTestData is
    deterministic, so one copy serves every seed)."""
    data = os.path.join(build_dir, "data", f"sf{sf}-" + os.path.basename(classes))
    if os.path.exists(os.path.join(data, ".done")):
        return data
    cmd = java_cmd(os.path.join(build_dir, "tmp"), "3g") + [
        "-cp", f"{classes}:{spark_jars(root)}/*", "graft.GenTestData", data, sf]
    log = os.path.join(build_dir, "gendata.log")
    if run_logged(cmd, log, 600) != 0:
        raise RuntimeError(f"test data generation failed, see {log}")
    open(os.path.join(data, ".done"), "w").close()
    drop_others(os.path.join(build_dir, "data", "*"), data)
    return data


def drop_others(pattern, keep):
    """Remove the outputs of earlier builds."""
    for d in glob.glob(pattern):
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)
