"""Multi-process Spark STANDALONE cluster harness (r11).

Every number the repo produced through r10 came from a single-JVM
``local[32]`` session, which hides real cluster boundaries: closure
serialization to separate executor JVMs, broadcast transport over netty,
python-worker spawn under each executor, driver-vs-executor memory
accounting, and multi-process contention on the file-backed coordination
protocols (LeaseLock epoch chains behind topic publishes and ingest
commits, the sidecar-cache flock).  This harness stands up a REAL
master + N worker processes from the installed pyspark distribution and
lets every existing entry point (bench.py,
tools_verify.py, tools_scale_rehearsal.py, pytest) run against it
unchanged via ``SPARK_GRAFT_MASTER=spark://127.0.0.1:7077`` (honored by
data_pipeline_spark.session.get_spark).

Usage:
  python tools_cluster.py start [--workers 4] [--cores 8] [--mem 20g]
  python tools_cluster.py status
  python tools_cluster.py stop

Notes:
- The pip pyspark distribution lacks the source-build directories the
  executor launcher probes for scala detection, so workers need BOTH
  SPARK_HOME (the pyspark package dir) and SPARK_SCALA_VERSION=2.13 or
  executor launch dies with "Cannot find any build directories".
- PYSPARK_PYTHON must point at this interpreter on the workers, or the
  executors' python workers resolve to a bare ``python3`` without the
  repo's dependencies.
- All processes share one host and filesystem here; the harness exists
  to cross PROCESS boundaries (serialization, transport, flock), not
  machine boundaries.
"""

from __future__ import annotations

import argparse
import json
import os
import socket
import subprocess
import sys
import time
import urllib.request
from pathlib import Path

import pyspark

BASE = Path("/tmp/spark_cluster")
MASTER_HOST = "127.0.0.1"
MASTER_PORT = 7077
MASTER_UI = 8090
MASTER_URL = f"spark://{MASTER_HOST}:{MASTER_PORT}"
SPARK_HOME = Path(pyspark.__file__).parent
JAVA = Path(os.environ.get("JAVA_HOME", "/usr")) / "bin" / "java"


def _port_open(port: int) -> bool:
    with socket.socket() as s:
        s.settimeout(0.5)
        return s.connect_ex((MASTER_HOST, port)) == 0


def _daemon_env() -> dict:
    env = dict(os.environ)
    env["SPARK_HOME"] = str(SPARK_HOME)
    env["SPARK_SCALA_VERSION"] = "2.13"
    env["PYSPARK_PYTHON"] = sys.executable
    return env


def _spawn(cls: str, args: list[str], log: Path) -> int:
    cmd = [
        str(JAVA), "-Xmx1g", "-cp", f"{SPARK_HOME}/jars/*", cls, *args,
    ]
    with open(log, "w") as fh:
        p = subprocess.Popen(
            cmd, stdout=fh, stderr=subprocess.STDOUT, env=_daemon_env(),
            start_new_session=True,
        )
    return p.pid


def _master_state() -> dict | None:
    try:
        with urllib.request.urlopen(
            f"http://{MASTER_HOST}:{MASTER_UI}/json/", timeout=5
        ) as r:
            return json.load(r)
    except OSError:
        return None


def start(workers: int, cores: int, mem: str) -> None:
    logs = BASE / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    pids = []
    if not _port_open(MASTER_PORT):
        pid = _spawn(
            "org.apache.spark.deploy.master.Master",
            ["--host", MASTER_HOST, "--port", str(MASTER_PORT),
             "--webui-port", str(MASTER_UI)],
            logs / "master.log",
        )
        pids.append(("master", pid))
        for _ in range(60):
            if _port_open(MASTER_PORT):
                break
            time.sleep(0.5)
        else:
            raise RuntimeError("master did not bind :7077 — see master.log")
    state = _master_state() or {}
    have = len([w for w in state.get("workers", [])
                if w.get("state") == "ALIVE"])
    for i in range(have, workers):
        wdir = BASE / f"worker{i}"
        wdir.mkdir(parents=True, exist_ok=True)
        pid = _spawn(
            "org.apache.spark.deploy.worker.Worker",
            ["--host", MASTER_HOST, "--cores", str(cores), "--memory", mem,
             "--work-dir", str(wdir), "--webui-port", str(8101 + i),
             MASTER_URL],
            logs / f"worker{i}.log",
        )
        pids.append((f"worker{i}", pid))
    with open(BASE / "pids.json", "a") as fh:
        for name, pid in pids:
            fh.write(json.dumps({"name": name, "pid": pid}) + "\n")
    deadline = time.time() + 60
    while time.time() < deadline:
        state = _master_state() or {}
        alive = [w for w in state.get("workers", [])
                 if w.get("state") == "ALIVE"]
        if len(alive) >= workers:
            total = sum(w["cores"] for w in alive)
            print(f"cluster up: {MASTER_URL} — {len(alive)} workers, "
                  f"{total} cores")
            print(f"export SPARK_GRAFT_MASTER={MASTER_URL}")
            return
        time.sleep(1)
    raise RuntimeError("workers did not register — see logs under "
                       f"{logs}")


def status() -> None:
    state = _master_state()
    if not state:
        print("master not running")
        return
    alive = [w for w in state.get("workers", []) if w.get("state") == "ALIVE"]
    print(f"{MASTER_URL}: {len(alive)} ALIVE workers, "
          f"{sum(w['cores'] for w in alive)} cores, "
          f"{len(state.get('activeapps', []))} active apps")


def stop() -> None:
    import signal

    pid_file = BASE / "pids.json"
    if not pid_file.exists():
        print("no pid file; nothing to stop")
        return
    for line in pid_file.read_text().splitlines():
        rec = json.loads(line)
        try:
            os.kill(rec["pid"], signal.SIGTERM)
            print(f"stopped {rec['name']} ({rec['pid']})")
        except ProcessLookupError:
            pass
    pid_file.unlink()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("cmd", choices=["start", "stop", "status"])
    ap.add_argument("--workers", type=int, default=4)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--mem", default="20g")
    args = ap.parse_args()
    if args.cmd == "start":
        start(args.workers, args.cores, args.mem)
    elif args.cmd == "stop":
        stop()
    else:
        status()


if __name__ == "__main__":
    main()
