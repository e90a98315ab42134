"""The benchmark's handle on its JVM harness process (`graftbench.Harness`).

Commands go out as one JSON object per stdin line; each reply is the
next stdout line starting with `@@ `. Spark's own logging goes to a log
file under `.bench_build/logs`.
"""
import json
import os
import subprocess

from build import ADD_OPENS, BUILD


class HarnessError(Exception):
    pass


class Jvm:
    def __init__(self, classpath, run_id):
        self.tmp = tmp = os.path.join(BUILD, "tmp", run_id)
        logs = os.path.join(BUILD, "logs")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(logs, exist_ok=True)
        self.log_path = os.path.join(logs, run_id + ".log")
        self._log = open(self.log_path, "w")
        cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", "-Xss8m",
               f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
               *ADD_OPENS, "-cp", classpath, "graftbench.Harness"]
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self._log, text=True, cwd=tmp)
        self._read()  # the harness says it is ready once Spark is up

    def _read(self):
        while True:
            line = self.proc.stdout.readline()
            if not line:
                raise HarnessError(f"harness exited (code {self.proc.poll()}); see {self.log_path}")
            if line.startswith("@@ "):
                reply = json.loads(line[3:])
                if "error" in reply:
                    raise HarnessError(reply["error"])
                return reply

    def call(self, cmd, **args):
        self.proc.stdin.write(json.dumps({"cmd": cmd, **args}) + "\n")
        self.proc.stdin.flush()
        return self._read()

    def close(self):
        """Stop the harness and wait for it to end."""
        if self.proc.poll() is None:
            try:
                self.call("quit")
            except (HarnessError, OSError, ValueError):
                pass
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self._log.close()
