"""Builds the benchmark's JVM side and talks to it.

`build` compiles graft's sources together with `src/main/scala/graftbench`
through this directory's own sbt build, once per source content.
`Server` starts one JVM holding one `GraftSession.local(cores)` session
and sends it one request at a time (a closed loop with one client).
"""
import glob
import hashlib
import json
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))

# The module opens Spark needs on JDK 17 outside spark-submit, as the
# repository's build.sbt passes them to forked runs.
ADD_OPENS = [arg for pkg in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for arg in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")]


class BenchError(Exception):
    pass


def _sources(repo_root):
    graft = os.path.join(repo_root, "src", "main", "scala", "graft")
    if not os.path.isdir(graft):
        raise BenchError(f"no graft sources under {graft}")
    files = glob.glob(os.path.join(repo_root, "src", "main", "scala", "**", "*.scala"),
                      recursive=True)
    files += glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"), recursive=True)
    files += [os.path.join(BENCH_DIR, "build.sbt"),
              os.path.join(BENCH_DIR, "project", "build.properties")]
    return sorted(files)


def build(repo_root):
    """Compile when the sources changed; return the runtime classpath."""
    digest = hashlib.sha256()
    for f in _sources(repo_root):
        digest.update(os.path.relpath(f, repo_root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    target = os.path.join(BENCH_DIR, "target")
    stamp, cp_file = os.path.join(target, "build.stamp"), os.path.join(target, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read() == digest.hexdigest():
                with open(cp_file) as cp:
                    return cp.read()
    # sbt's own temporary files stay in the checkout too.
    tmp = os.path.join(os.path.dirname(BENCH_DIR), ".perfbench", "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SBT_OPTS=f"{os.environ.get('SBT_OPTS', '')} -Djava.io.tmpdir={tmp}")
    done = subprocess.run(["sbt", "-batch", "writeClasspath"], cwd=BENCH_DIR, env=env,
                          stdin=subprocess.DEVNULL, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0 or not os.path.exists(cp_file):
        raise BenchError("sbt build failed")
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    with open(cp_file) as cp:
        return cp.read()


class Server:
    def __init__(self, classpath, cores, registry_root, work_dir, log_path):
        os.makedirs(registry_root, exist_ok=True)
        tmp = os.path.join(work_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, SPARK_GRAFT_MODEL_DIR=registry_root)
        self.log = open(log_path, "w")
        self.proc = subprocess.Popen(
            ["java", *ADD_OPENS, "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={tmp}",
             f"-Dspark.sql.warehouse.dir={os.path.join(work_dir, 'warehouse')}",
             f"-Dderby.system.home={work_dir}",
             "-cp", classpath, "graftbench.Server", str(cores), registry_root],
            cwd=work_dir, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
            stderr=self.log, text=True)
        self.ready = self._reply()

    def _reply(self):
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise BenchError(f"benchmark JVM exited (code {self.proc.poll()}); "
                                 f"see {self.log.name}")
            if line.startswith("@@ "):
                return json.loads(line[3:])

    def call(self, *args):
        self.proc.stdin.write("\t".join(str(a) for a in args) + "\n")
        self.proc.stdin.flush()
        return self._reply()

    def peak_rss_mb(self):
        """The JVM's VmHWM (peak resident set) so far."""
        with open(f"/proc/{self.proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return float("nan")

    def read_bytes(self):
        """Bytes the JVM has read through read(2)-family calls so far
        (`rchar`): parquet scans, registry artifacts and local shuffle
        files alike, whether or not the page cache served them."""
        with open(f"/proc/{self.proc.pid}/io") as fh:
            for line in fh:
                if line.startswith("rchar:"):
                    return int(line.split()[1])
        return 0

    def close(self):
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write("quit\n")
                self.proc.stdin.close()
                self.proc.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                self.proc.kill()
                self.proc.wait()
        self.log.close()
