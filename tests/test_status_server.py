"""Read-only HTTP status API (jobs/status_server.py — the served slice of
the reference's REST controller, Mysql2MysqlController.scala:23-89):
every route answers from table metadata on disk, no Spark session in the
server, torn-free JSON documents."""

import json
import os
import threading
import urllib.request

from pyspark.sql import functions as F

from estuary_spark.config import SyncConfig
from estuary_spark.multi import run_sync_multi

from jobs.status_server import make_server


def _get(port: int, path: str):
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
        return r.status, json.loads(r.read())


def _get_status(port: int, path: str):
    try:
        return _get(port, path)
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_status_server_routes(spark, tmpdir_path):
    # build two destination tables via a real multi-table sync
    rows = [
        (1, "insert", "db1.a", "c1", 0, "a1"),
        (2, "insert", "db1.b", "k1", 0, "b1"),
        (3, "update", "db1.a", "c1", 0, "a1-v2"),
    ]
    df = spark.createDataFrame(rows, ["lsn", "op", "src_table", "conv_id", "turn_idx", "text"])
    df.write.parquet(os.path.join(tmpdir_path, "log"))
    cfg = SyncConfig(
        source_log_dir=os.path.join(tmpdir_path, "log"),
        target_table_dir=os.path.join(tmpdir_path, "tables"),
        checkpoint_path=os.path.join(tmpdir_path, "ckpt.json"),
        n_buckets=2,
        envelope_cols=("lsn", "op"),
        table_col="src_table",
    )
    run_sync_multi(spark, cfg, events_per_batch=100)

    srv = make_server(
        cfg.target_table_dir, multi=True, checkpoint_path=cfg.checkpoint_path, port=0
    )
    port = srv.server_address[1]
    th = threading.Thread(target=srv.serve_forever, daemon=True)
    th.start()
    try:
        code, health = _get(port, "/health")
        assert code == 200 and health["ok"]

        code, tables = _get(port, "/tables")
        assert code == 200 and set(tables["tables"]) == {"db1.a", "db1.b"}
        assert tables["tables"]["db1.a"]["exists"]

        code, ta = _get(port, "/tables/db1.a")
        assert code == 200
        assert ta["applied_lsn_hi"] == 3
        assert ta["version"] >= 1
        assert ta["last_batch"]["offset_range"] == [0, 3]  # plan starts at lsn 0

        code, ckpt = _get(port, "/checkpoint")
        assert code == 200 and ckpt["next_lsn"] == 4

        code, err = _get_status(port, "/tables/nope")
        assert code == 404 and "unknown table" in err["error"]
        code, _ = _get_status(port, "/bogus")
        assert code == 404
    finally:
        srv.shutdown()
        srv.server_close()


def _post(port: int, path: str, body=None):
    data = json.dumps(body or {}).encode()
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}", data=data, method="POST",
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_control_disabled_by_default(spark, tmpdir_path):
    """Without --allow-control the server is read-only: every control
    route answers 403 and no subprocess machinery exists."""
    os.makedirs(os.path.join(tmpdir_path, "tables"), exist_ok=True)
    srv = make_server(os.path.join(tmpdir_path, "tables"), multi=True, port=0)
    port = srv.server_address[1]
    th = threading.Thread(target=srv.serve_forever, daemon=True)
    th.start()
    try:
        assert _get_status(port, "/tasks")[0] == 403
        assert _post(port, "/tasks/new", {"name": "t", "args": []})[0] == 403
        code, health = _get(port, "/health")
        assert code == 200 and health["control"] is False
    finally:
        srv.shutdown()


def test_control_task_lifecycle(spark, tmpdir_path):
    """K3 control verbs end-to-end: POST /tasks/new spawns a sync_job
    subprocess that syncs a real log; /tasks reports running->exited;
    restart respawns the same argv (checkpointed restart = exactly-once,
    replaying nothing); stop on a finished task is a safe no-op; duplicate
    new while alive is 409."""
    import time

    from estuary_spark.runner import read_final_state
    from jobs.status_server import TaskManager

    rows = [
        (1, "insert", "c1", 0, "v1"),
        (2, "update", "c1", 0, "v2"),
        (3, "insert", "c2", 0, "w1"),
    ]
    df = spark.createDataFrame(rows, ["lsn", "op", "conv_id", "turn_idx", "text"])
    log_dir = os.path.join(tmpdir_path, "log")
    df.write.parquet(log_dir)
    target = os.path.join(tmpdir_path, "t")
    ckpt = os.path.join(tmpdir_path, "ck.json")

    tasks = TaskManager(log_dir=os.path.join(tmpdir_path, 'task-logs'))
    srv = make_server(tmpdir_path, multi=True, port=0, tasks=tasks)
    port = srv.server_address[1]
    th = threading.Thread(target=srv.serve_forever, daemon=True)
    th.start()
    argv = [
        "--source", log_dir, "--target", target, "--checkpoint", ckpt,
        "--buckets", "2", "--app-name", "ctl-test",
    ]
    try:
        code, doc = _post(port, "/tasks/new", {"name": "sync-1", "args": argv})
        assert code == 200 and doc["running"] and doc["pid"] > 0

        # duplicate while alive -> 409 (name registry, like the reference)
        code, err = _post(port, "/tasks/new", {"name": "sync-1", "args": argv})
        assert code == 409 or not doc["running"]

        # poll until the subprocess finishes its catch-up and exits 0
        deadline = time.time() + 180
        while time.time() < deadline:
            code, alldoc = _get(port, "/tasks")
            st = alldoc["tasks"]["sync-1"]
            if not st["running"]:
                break
            time.sleep(0.5)
        if st["returncode"] != 0:
            log = os.path.join(tmpdir_path, "task-logs", "sync-1.log")
            tail = open(log).read()[-3000:] if os.path.exists(log) else "<no log>"
            raise AssertionError(f"{st}\n--- task log tail ---\n{tail}")
        got = {
            (r["conv_id"], r["text"])
            for r in read_final_state(
                spark,
                SyncConfig(source_log_dir=log_dir, target_table_dir=target),
            ).collect()
        }
        assert got == {("c1", "v2"), ("c2", "w1")}

        # stop on a finished task: safe no-op, still reports rc 0
        code, doc = _post(port, "/tasks/sync-1/stop")
        assert code == 200 and doc["returncode"] == 0

        # restart respawns the same argv; the checkpoint makes it a no-op
        code, doc = _post(port, "/tasks/sync-1/restart")
        assert code == 200 and doc["args"] == argv
        deadline = time.time() + 180
        while time.time() < deadline:
            code, alldoc = _get(port, "/tasks")
            if not alldoc["tasks"]["sync-1"]["running"]:
                break
            time.sleep(0.5)
        assert alldoc["tasks"]["sync-1"]["returncode"] == 0
        got2 = {
            (r["conv_id"], r["text"])
            for r in read_final_state(
                spark,
                SyncConfig(source_log_dir=log_dir, target_table_dir=target),
            ).collect()
        }
        assert got2 == got  # exactly-once: the restart replayed nothing

        # unknown task -> 404
        assert _post(port, "/tasks/nope/stop")[0] == 404
    finally:
        srv.shutdown()
        tasks.shutdown()


def test_control_stop_kills_running_task(spark, tmpdir_path):
    """Stop on a RUNNING task terminates the subprocess; the kill point is
    replay-safe (C5: nothing commits mid-batch), so a restart converges."""
    import time

    from estuary_spark.runner import read_final_state
    from jobs.status_server import TaskManager

    # a long-running task: streaming mode tails the log until terminated
    rows = [(i, "insert", f"c{i}", 0, f"v{i}") for i in range(50)]
    df = spark.createDataFrame(rows, ["lsn", "op", "conv_id", "turn_idx", "text"])
    log_dir = os.path.join(tmpdir_path, "log")
    df.write.parquet(log_dir)
    target = os.path.join(tmpdir_path, "t")

    tasks = TaskManager(log_dir=os.path.join(tmpdir_path, 'task-logs'))
    srv = make_server(tmpdir_path, multi=True, port=0, tasks=tasks)
    port = srv.server_address[1]
    th = threading.Thread(target=srv.serve_forever, daemon=True)
    th.start()
    argv = [
        "--source", log_dir, "--target", target,
        "--checkpoint", os.path.join(tmpdir_path, "stream-ck"),
        "--buckets", "2",
        "--streaming", "--continuous", "--app-name", "ctl-stream-test",
    ]
    try:
        code, doc = _post(port, "/tasks/new", {"name": "tail-1", "args": argv})
        assert code == 200 and doc["running"]
        # wait for the first micro-batch to land, then stop mid-flight
        deadline = time.time() + 180
        while time.time() < deadline and not os.path.isdir(target):
            time.sleep(0.5)
        assert os.path.isdir(target), "stream never committed"
        code, doc = _post(port, "/tasks/tail-1/stop")
        assert code == 200 and not doc["running"]

        got = {
            (r["conv_id"], r["text"])
            for r in read_final_state(
                spark, SyncConfig(source_log_dir=log_dir, target_table_dir=target)
            ).collect()
        }
        assert got <= {(f"c{i}", f"v{i}") for i in range(50)}
    finally:
        srv.shutdown()
        tasks.shutdown()


def test_stop_reports_killing_when_the_kill_times_out(tmpdir_path):
    """A task that outlives SIGKILL's wait is reported as ``killing`` (HTTP
    200), not a 500, and restart does not spawn a second copy of it."""
    import subprocess
    import time

    from jobs.status_server import TaskManager

    class Unkillable:
        pid = 4242
        signals: list[str] = []

        def poll(self):
            return None

        def terminate(self):
            self.signals.append("TERM")

        def kill(self):
            self.signals.append("KILL")

        def wait(self, timeout=None):
            raise subprocess.TimeoutExpired("sync_job.py", timeout)

    tasks = TaskManager()
    proc = Unkillable()
    tasks._tasks["stuck"] = {"proc": proc, "args": [], "started_at": time.time()}

    def no_spawn(name, args):
        raise AssertionError("restart spawned while the old process is alive")

    tasks._spawn = no_spawn
    srv = make_server(tmpdir_path, multi=True, port=0, tasks=tasks)
    port = srv.server_address[1]
    th = threading.Thread(target=srv.serve_forever, daemon=True)
    th.start()
    try:
        code, doc = _post(port, "/tasks/stuck/stop")
        assert code == 200 and doc["state"] == "killing" and doc["running"]
        assert proc.signals == ["TERM", "KILL"]
        code, doc = _post(port, "/tasks/stuck/restart")
        assert code == 200 and doc["state"] == "killing"
    finally:
        srv.shutdown()
