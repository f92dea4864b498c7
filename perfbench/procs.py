"""Child processes of a benchmark run: start, sample, stop, read logs."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import threading
import time

# the program's log lines ROADMAP asks to count (both go to the JVM's stderr)
_ACCUMULATOR_ERROR = "Failed to update accumulator"
_BLOCK_EXISTS = re.compile(r"Block \S+ already exists")


def child_env(root: str, work: str) -> dict:
    """Environment for a process hosting the program's Spark session:
    every scratch location inside the run's work directory, a modest
    driver heap, and the checkout on the Python path of driver and
    workers alike."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=root + os.pathsep + env.get("PYTHONPATH", ""),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_INDEX_DIR=os.path.join(work, "index"),
        SPARK_GRAFT_DRIVER_MEM=env.get("SPARK_GRAFT_DRIVER_MEM", "2g"),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        # every JVM (the launcher and the driver): temp files in the work
        # directory, and no hsperfdata file, which HotSpot writes to /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONUNBUFFERED="1",
    )
    return env


class Child:
    """One ``python3 -m <module> <job.json>`` process with its stderr in a
    log file, sampled for the peak RSS of its whole process tree (the
    driver Python, the JVM it launches and the Python workers)."""

    def __init__(self, module: str, job: dict, root: str, work: str, stdin_pipe=False):
        self.job_path = os.path.join(work, f"{module.rsplit('.', 1)[-1]}-job.json")
        with open(self.job_path, "w") as f:
            json.dump(job, f)
        self.job = job
        self.log_path = os.path.join(work, f"{module.rsplit('.', 1)[-1]}.log")
        self._log = open(self.log_path, "w")
        self.started = time.time()
        self.proc = subprocess.Popen(
            [sys.executable, "-m", module, self.job_path],
            cwd=work,
            env=child_env(root, work),
            stdin=subprocess.PIPE if stdin_pipe else subprocess.DEVNULL,
            stdout=self._log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        self.peak_rss_bytes = 0
        self._stop = threading.Event()
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def _sample(self) -> None:
        while not self._stop.wait(0.25):
            self.peak_rss_bytes = max(self.peak_rss_bytes, tree_rss_bytes(self.proc.pid))

    def inputs_ready(self) -> None:
        """Tell the process its generated inputs are complete."""
        open(self.job["inputs_ready"], "w").close()

    def wait_for_file(self, path: str, timeout: float) -> None:
        deadline = time.time() + timeout
        while not os.path.exists(path):
            if self.proc.poll() is not None:
                raise RuntimeError(f"{self.job_path}: process exited ({self.proc.returncode})"
                                   f" before writing {path}; see {self.log_path}")
            if time.time() > deadline:
                raise TimeoutError(f"no {path} after {timeout:.0f}s; see {self.log_path}")
            time.sleep(0.1)

    def finish(self, timeout: float) -> dict:
        """Wait for the process to exit and return its result file."""
        try:
            if self.proc.stdin is not None:
                self.proc.stdin.close()
            rc = self.proc.wait(timeout=timeout)
            self.ended = time.time()
        finally:
            self.kill()
        if rc != 0:
            raise RuntimeError(f"{self.job_path}: exit code {rc}; see {self.log_path}")
        with open(self.job["result"]) as f:
            return json.load(f)

    def kill(self) -> None:
        """Stop the whole process group and wait for it; idempotent."""
        self._stop.set()
        if self.proc.poll() is None:
            try:
                os.killpg(self.proc.pid, 9)
            except ProcessLookupError:
                pass
        self.proc.wait()
        # the JVM and Python workers are in the same session: make sure none
        # outlives the run even when the driver exited first, and wait for
        # them to be gone
        deadline = time.time() + 10
        while (members := session_members(self.proc.pid)) and time.time() < deadline:
            for pid in members:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
            time.sleep(0.05)
        self._sampler.join(timeout=2)
        self._log.close()

    def log_counts(self) -> dict[str, int]:
        acc = blocks = 0
        with open(self.log_path, errors="replace") as f:
            for line in f:
                if _ACCUMULATOR_ERROR in line:
                    acc += 1
                if _BLOCK_EXISTS.search(line):
                    blocks += 1
        return {"accumulator_errors": acc, "block_already_exists": blocks}


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, session id) for every live (not zombie) process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            if fields[0] != "Z":
                out[int(name)] = (int(fields[1]), int(fields[3]))
        except (OSError, IndexError, ValueError):
            continue
    return out


def session_members(sid: int) -> list[int]:
    """Every live process of session ``sid``, however it was started."""
    return [pid for pid, (_pp, s) in _proc_table().items() if s == sid]


def tree_rss_bytes(pid: int) -> int:
    table = _proc_table()
    tree, frontier = {pid}, [pid]
    while frontier:
        parent = frontier.pop()
        for p, (pp, _s) in table.items():
            if pp == parent and p not in tree:
                tree.add(p)
                frontier.append(p)
    total = 0
    for p in tree:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total
