"""Building the program and driving its processes: the MCP server over one
stdio pipe, the catalog runner, and the gate/bind probe. Every process runs
in its own process group and is killed with its whole tree on a deadline."""
import hashlib
import os
import queue
import re
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Per run, so two runs in one checkout do not remove each other's files.
WORK = os.path.join(HERE, ".work", str(os.getpid()))
BUILD_STAMP = os.path.join(HERE, "target", "perfbench.stamp")
PROGRAM_CLASSES = os.path.join(ROOT, "target", "scala-2.13", "classes")
BENCH_CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
XMX = "4g"

# The module openings build.sbt passes to forked runs (Spark 4 on JDK 17).
ADD_OPENS = ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

TRACE_PROPS = [
    "-Dspark.extraListeners=perfbench.TraceSparkListener",
    "-Dspark.sql.queryExecutionListeners=perfbench.TraceQueryListener",
    "-Dspark.sql.streaming.streamingQueryListeners=perfbench.TraceStreamingListener",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def cpus():
    return str(len(os.sched_getaffinity(0)))


# ------------------------------------------------------------------- build

def _source_stamp():
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in sorted(os.walk(r)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        st = os.stat(f)
        h.update(("%s %d %d\n" % (os.path.relpath(f, ROOT), st.st_size, st.st_mtime_ns)).encode())
    return h.hexdigest()


def source_hash():
    """Content hash of the program's sources: identifies the code measured
    even where the checkout carries no git metadata."""
    h = hashlib.sha1()
    for d, _, names in sorted(os.walk(os.path.join(ROOT, "src", "main"))):
        for n in sorted(names):
            with open(os.path.join(d, n), "rb") as f:
                h.update(n.encode() + b"\0" + f.read())
    return h.hexdigest()[:12]


def build():
    """Compiles the program (the repository's own sbt build at the checkout
    root) and then the benchmark's classes. Skipped when no source changed
    since the last build. Returns False if the checkout has no program."""
    for need in ("build.sbt", os.path.join("src", "main", "scala"), os.path.join("examples", "tools.yaml")):
        if not os.path.exists(os.path.join(ROOT, need)):
            log("no program to build here: %s is missing" % need)
            return False
    if not spark_jars():
        log("build.sbt names no Spark jars directory (unmanagedBase)")
        return False
    stamp = _source_stamp()
    if os.path.exists(BUILD_STAMP) and open(BUILD_STAMP).read() == stamp:
        return True
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.append("-Dsbt.repository.config=" + repos)
        env["SBT_OPTS"] = " ".join(opts)
    for cwd in (ROOT, HERE):
        log("sbt compile in %s" % os.path.relpath(cwd, ROOT))
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=cwd, env=env,
                           stdin=subprocess.DEVNULL, stdout=sys.stderr, stderr=sys.stderr, timeout=800)
        if r.returncode != 0:
            log("build failed in %s" % cwd)
            return False
    os.makedirs(os.path.dirname(BUILD_STAMP), exist_ok=True)
    with open(BUILD_STAMP, "w") as f:
        f.write(stamp)
    return True


def spark_jars():
    """The Spark jars directory the program's own build compiles against
    (its `unmanagedBase`), or None if build.sbt names none."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    return m and m.group(1)


def java_version():
    r = subprocess.run(["java", "-version"], capture_output=True, text=True)
    return (r.stderr.splitlines() or ["unknown"])[0]


# --------------------------------------------------------------- processes

def java_argv(main, args, trace_out=None, bench_classes=False):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = [PROGRAM_CLASSES, os.path.join(spark_jars(), "*")]
    props = ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Xmx" + XMX,
             "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp]
    if trace_out or bench_classes:
        cp.insert(1, BENCH_CLASSES)
    if trace_out:
        props += TRACE_PROPS + ["-Dperfbench.trace.out=" + trace_out]
    return ["java"] + ADD_OPENS + props + ["-cp", ":".join(cp), main] + list(args)


def java_env(data_dir):
    return dict(os.environ, SPARK_GRAFT_CPUS=cpus(), SPARK_GRAFT_SF_DIR=data_dir,
                SPARK_LOCAL_DIRS=os.path.join(WORK, "tmp"))


class Deadline(Exception):
    pass


class Proc:
    """A child process whose stdout lines are read by a thread and stamped
    with their arrival time (epoch seconds and a monotonic clock)."""

    def __init__(self, argv, env, name):
        self.name = name
        self.err = open(os.path.join(WORK, name + ".stderr"), "wb")
        self.t_spawn = time.time()
        self.p = subprocess.Popen(argv, cwd=ROOT, env=env, stdin=subprocess.PIPE,
                                  stdout=subprocess.PIPE, stderr=self.err, start_new_session=True)
        self.lines = queue.Queue()
        self.hwm_kb = 0
        threading.Thread(target=self._read, daemon=True).start()

    def _read(self):
        for line in self.p.stdout:
            self.lines.put((time.time(), time.perf_counter(), line))
        self.lines.put(None)

    def send(self, text):
        self.p.stdin.write(text.encode() + b"\n")
        self.p.stdin.flush()

    def recv(self, timeout):
        """(epoch, monotonic, bytes) of the next stdout line."""
        try:
            item = self.lines.get(timeout=max(0.0, timeout))
        except queue.Empty:
            raise Deadline("%s: no reply within %.1f s" % (self.name, timeout))
        if item is None:
            self.lines.put(None)
            try:
                code = self.p.wait(timeout=5)
            except subprocess.TimeoutExpired:
                code = None
            raise Deadline("%s exited (code %s)" % (self.name, code))
        self.sample_hwm()
        return item

    def sample_hwm(self):
        """Peak resident memory so far (VmHWM), kept while the process lives."""
        try:
            with open("/proc/%d/status" % self.p.pid) as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        self.hwm_kb = max(self.hwm_kb, int(line.split()[1]))
        except OSError:
            pass
        return self.hwm_kb / 1024.0

    def close(self, timeout=60):
        """Ends stdin and waits for a clean exit; kills the tree if it hangs."""
        self.sample_hwm()
        try:
            self.p.stdin.close()
        except OSError:
            pass
        try:
            self.p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            log("%s did not exit within %d s; killing it" % (self.name, timeout))
            self.kill()
        self.err.close()

    def kill(self):
        try:
            os.killpg(self.p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.p.wait()
        if not self.err.closed:
            self.err.close()
