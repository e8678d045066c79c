"""HTTP status + control API — the reference's REST control plane
(``web/controller/Mysql2MysqlController.scala:23-89`` in /root/reference
serves per-task new/start/stop/restart/status over Spring REST; the
estuary status queries are ``SyncControllerMessages`` +
``ProcessingCounter`` counters).

The STATUS surface is served directly from table metadata: every
document is derived from snapshot manifests and checkpoint files on disk
(``monitor.table_status``), so the server needs no Spark session, holds
no state, and can run beside or apart from the sync drivers.

The CONTROL verbs (the reference's ``/new/sync``, ``stop``, ``restart``)
are OFF by default (``--allow-control`` enables them — a deployment that
delegates lifecycle to its scheduler keeps the read-only surface) and
manage sync tasks as ``jobs/sync_job.py`` subprocesses: ``new`` spawns
one, ``stop`` terminates it (nothing commits mid-batch — C5 — so the
kill point is always replay-safe), ``restart`` respawns the SAME argv
and the checkpoint makes the restart exactly-once (the reference
restarts tasks the same way: kill the actor system, reload from the
saved position, ``Mysql2MysqlController.scala:55-74``). stdlib-only
(http.server, threading, subprocess).

Routes (JSON):
  GET  /health                liveness + server time
  GET  /tables                summary per destination table under --root
  GET  /tables/<name>         full position/health document for one table
  GET  /checkpoint            the driver checkpoint file, if configured
  GET  /tasks                 lifecycle status of every managed task
  POST /tasks/new             {"name": ..., "args": [sync_job argv...]}
  POST /tasks/<name>/stop     terminate the task's subprocess
  POST /tasks/<name>/restart  stop (if running) + respawn the same argv

Usage:
  python jobs/status_server.py --root /lake/tables [--multi]
      [--checkpoint /ckpt/sync.json] [--port 8718] [--host 127.0.0.1]
      [--allow-control]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_SYNC_JOB = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sync_job.py")


class TaskManager:
    """Sync-task lifecycle, one subprocess per task (the analogue of the
    reference's one-actor-system-per-task model). Only ``sync_job.py`` is
    ever executed — the HTTP surface passes ARGUMENTS, never a program —
    and names are registry keys, so a duplicate ``new`` is rejected while
    its task is alive (the reference's per-name task registry behaves the
    same)."""

    def __init__(self, log_dir: str | None = None) -> None:
        self._tasks: dict[str, dict] = {}
        self._lock = threading.Lock()
        self._log_dir = log_dir

    def _alive(self, t: dict) -> bool:
        return t["proc"].poll() is None

    def _spawn(self, name: str, args: list[str]) -> "subprocess.Popen":
        if self._log_dir:
            os.makedirs(self._log_dir, exist_ok=True)
            with open(os.path.join(self._log_dir, f"{name}.log"), "ab") as out:
                # Popen dups the descriptor for the child; closing the
                # parent's copy immediately prevents an fd leak per spawn
                return subprocess.Popen(
                    [sys.executable, _SYNC_JOB, *args], stdout=out, stderr=out
                )
        return subprocess.Popen(
            [sys.executable, _SYNC_JOB, *args],
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
        )

    def new(self, name: str, args: list[str]) -> dict:
        if not name or not isinstance(args, list) or not all(isinstance(a, str) for a in args):
            raise ValueError("need a task name and an argv list of strings")
        if os.sep in name or name.startswith("."):
            raise ValueError(f"task name {name!r} must be a plain identifier")
        with self._lock:
            cur = self._tasks.get(name)
            if cur and self._alive(cur):
                raise KeyError(f"task {name!r} is already running (stop it first)")
            proc = self._spawn(name, args)
            self._tasks[name] = {"proc": proc, "args": list(args), "started_at": time.time()}
            return self.status(name)

    def stop(self, name: str, timeout: float = 30.0) -> dict:
        """Terminate the task, escalating to SIGKILL after ``timeout``. A
        process that outlives the kill too (stuck in the kernel, say) is
        reported with ``"state": "killing"`` rather than as an error."""
        with self._lock:
            t = self._tasks.get(name)
            if t is None:
                raise KeyError(f"unknown task {name!r}")
            if self._alive(t):
                # SIGTERM: the batch driver checkpoints AFTER each commit and
                # nothing commits on an interrupted batch (C5), so any kill
                # point replays exactly-once from the last checkpoint
                t["proc"].terminate()
        try:
            t["proc"].wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            t["proc"].kill()
            try:
                t["proc"].wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                return {**self.status(name), "state": "killing"}
        return self.status(name)

    def restart(self, name: str) -> dict:
        with self._lock:
            t = self._tasks.get(name)
            if t is None:
                raise KeyError(f"unknown task {name!r}")
            args = list(t["args"])
        if self._alive(t):
            doc = self.stop(name)
            if doc.get("state") == "killing":
                return doc  # never run two copies of one task
        with self._lock:
            # the lock was released across the stop: a concurrent new()/
            # restart() may have replaced the entry — respawning here
            # would clobber its registry slot and orphan its subprocess
            if self._tasks.get(name) is not t:
                raise KeyError(f"task {name!r} was replaced concurrently; retry")
            proc = self._spawn(name, args)
            self._tasks[name] = {"proc": proc, "args": args, "started_at": time.time()}
        return self.status(name)

    def status(self, name: str) -> dict:
        t = self._tasks[name]
        rc = t["proc"].poll()
        return {
            "name": name,
            "running": rc is None,
            "pid": t["proc"].pid,
            "returncode": rc,
            "args": t["args"],
            "started_at": t["started_at"],
        }

    def all_status(self) -> dict:
        with self._lock:
            names = list(self._tasks)
        return {n: self.status(n) for n in names}

    def shutdown(self) -> None:
        with self._lock:
            names = list(self._tasks)
        for n in names:
            try:
                self.stop(n, timeout=5.0)
            except Exception:
                pass


def _table_dirs(root: str, multi: bool) -> dict[str, str]:
    """name -> table dir. Single-table mode serves the root itself under
    its basename; multi mode lists destination tables under the root."""
    from estuary_spark.tables import LakeTable

    if not multi:
        return {os.path.basename(root.rstrip("/")) or "table": root}
    return {
        d: os.path.join(root, d)
        for d in sorted(os.listdir(root) if os.path.isdir(root) else [])
        if LakeTable(os.path.join(root, d)).exists()
    }


def make_handler(
    root: str,
    multi: bool,
    checkpoint_path: str | None,
    tasks: TaskManager | None = None,
):
    from estuary_spark.monitor import table_status

    class Handler(BaseHTTPRequestHandler):
        server_version = "estuary-spark-status/1"

        def log_message(self, *a):  # quiet by default; ops tail access logs
            pass

        def _send(self, code: int, doc) -> None:
            body = json.dumps(doc).encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self) -> None:  # noqa: N802 (http.server API)
            try:
                path = self.path.rstrip("/")
                if path in ("", "/health"):
                    self._send(200, {"ok": True, "ts": time.time(), "root": root,
                                     "control": tasks is not None})
                elif path == "/tables":
                    dirs = _table_dirs(root, multi)
                    self._send(
                        200,
                        {
                            "ts": time.time(),
                            "tables": {n: table_status(d) for n, d in dirs.items()},
                        },
                    )
                elif path.startswith("/tables/"):
                    name = path[len("/tables/"):]
                    dirs = _table_dirs(root, multi)
                    if name not in dirs:
                        self._send(404, {"error": f"unknown table {name!r}"})
                        return
                    self._send(200, {"ts": time.time(), "table": name,
                                     **table_status(dirs[name])})
                elif path == "/checkpoint":
                    if not checkpoint_path or not os.path.exists(checkpoint_path):
                        self._send(404, {"error": "no checkpoint configured/present"})
                        return
                    with open(checkpoint_path) as fh:
                        self._send(200, json.load(fh))
                elif path == "/tasks":
                    if tasks is None:
                        self._send(403, {"error": "control disabled (--allow-control)"})
                        return
                    self._send(200, {"ts": time.time(), "tasks": tasks.all_status()})
                else:
                    self._send(404, {"error": f"unknown route {path!r}"})
            except Exception as e:  # never kill the serving thread
                self._send(500, {"error": str(e)})

        def do_POST(self) -> None:  # noqa: N802 (http.server API)
            try:
                path = self.path.rstrip("/")
                if tasks is None:
                    self._send(403, {"error": "control disabled (--allow-control)"})
                    return
                n = int(self.headers.get("Content-Length") or 0)
                body = json.loads(self.rfile.read(n) or b"{}") if n else {}
                if path == "/tasks/new":
                    try:
                        doc = tasks.new(str(body.get("name", "")), body.get("args", []))
                        self._send(200, doc)
                    except KeyError as e:
                        self._send(409, {"error": str(e)})
                    except ValueError as e:
                        self._send(400, {"error": str(e)})
                elif path.startswith("/tasks/") and path.endswith("/stop"):
                    name = path[len("/tasks/"):-len("/stop")]
                    try:
                        self._send(200, tasks.stop(name))
                    except KeyError as e:
                        self._send(404, {"error": str(e)})
                elif path.startswith("/tasks/") and path.endswith("/restart"):
                    name = path[len("/tasks/"):-len("/restart")]
                    try:
                        self._send(200, tasks.restart(name))
                    except KeyError as e:
                        self._send(404, {"error": str(e)})
                else:
                    self._send(404, {"error": f"unknown route {path!r}"})
            except Exception as e:  # never kill the serving thread
                self._send(500, {"error": str(e)})

    return Handler


def make_server(
    root: str,
    multi: bool = False,
    checkpoint_path: str | None = None,
    host: str = "127.0.0.1",
    port: int = 8718,
    tasks: TaskManager | None = None,
) -> ThreadingHTTPServer:
    """Construct (without starting) the threaded status server — tests
    drive it via ``serve_forever`` on a daemon thread; the CLI blocks.
    Pass a :class:`TaskManager` to enable the control verbs (the server
    stores it as ``srv.tasks`` so owners can ``shutdown()`` on exit)."""
    srv = ThreadingHTTPServer((host, port), make_handler(root, multi, checkpoint_path, tasks))
    srv.tasks = tasks
    return srv


def main() -> None:
    ap = argparse.ArgumentParser(description="estuary_spark status + control API")
    ap.add_argument("--root", required=True,
                    help="LakeTable root (or multi-table sync root with --multi)")
    ap.add_argument("--multi", action="store_true")
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--host", default="127.0.0.1")
    ap.add_argument("--port", type=int, default=8718)
    ap.add_argument("--allow-control", action="store_true",
                    help="enable POST /tasks/new|stop|restart (sync_job "
                         "subprocess lifecycle); off = read-only status API")
    ap.add_argument("--task-logs", default=None, metavar="DIR",
                    help="directory for per-task subprocess logs (control mode)")
    args = ap.parse_args()
    tasks = TaskManager(log_dir=args.task_logs) if args.allow_control else None
    srv = make_server(args.root, args.multi, args.checkpoint, args.host, args.port, tasks)
    print(json.dumps({"serving": f"http://{args.host}:{srv.server_address[1]}",
                      "root": args.root, "control": args.allow_control}), flush=True)
    try:
        srv.serve_forever()
    finally:
        if tasks is not None:
            tasks.shutdown()


if __name__ == "__main__":
    main()
