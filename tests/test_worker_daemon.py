"""The local Python worker daemon (``worker_daemon.py``): zip finders
read each archive once per worker, files added later still import, and
the daemon starts whatever the driver's cwd and ``PYTHONPATH``."""

import os
import subprocess
import sys
import textwrap
import uuid
import zipfile
from pathlib import Path

import pyarrow as pa

from arc_kinesis_tagging_spark.session import _session_conf

REPO = Path(__file__).resolve().parent.parent


def test_zip_finders_keep_their_directory_across_tasks(spark):
    def _zip_finders(batches):
        # one row per zip finder of this worker: its class, and whether
        # its directory (``_files``) is the object the previous task on
        # this worker saw; the references are kept, so a new dict cannot
        # reuse an old one's address
        import zipimport

        seen = sys.__dict__.setdefault("_worker_daemon_test_files", {})
        rows = []
        for path, f in list(sys.path_importer_cache.items()):
            if isinstance(f, zipimport.zipimporter):
                prev = seen.get(path)
                rows.append((type(f).__name__, path, None if prev is None else prev is f._files))
                seen[path] = f._files
        for _ in batches:
            pass
        cls, path, same = zip(*rows) if rows else ((), (), ())
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()] * len(rows), "cls": list(cls), "path": list(path),
            "same": list(same),
        })

    df = spark.range(1, numPartitions=1)
    schema = "pid long, cls string, path string, same boolean"
    seen_pids = set()
    for _ in range(40):
        rows = df.mapInArrow(_zip_finders, schema).collect()
        assert rows, "the worker holds no zip finder"
        pid = rows[0].pid
        if pid in seen_pids:
            break
        seen_pids.add(pid)
    else:
        raise AssertionError("no worker ran two tasks")
    assert {r.cls for r in rows} == {"_StaticZipImporter"}
    # the second task on this worker: every finder it already had keeps
    # the directory it read before
    repeated = [r for r in rows if r.same is not None]
    assert repeated and all(r.same for r in repeated), rows


def test_files_added_after_workers_start_import(spark, tmp_path):
    sc = spark.sparkContext
    spark.range(8, numPartitions=8).mapInArrow(lambda it: it, "id long").count()
    tag = uuid.uuid4().hex[:8]
    zmod, pmod = f"late_zip_{tag}", f"late_py_{tag}"
    archive = tmp_path / f"{zmod}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{zmod}.py", "VALUE = 7\n")
    (tmp_path / f"{pmod}.py").write_text("VALUE = 11\n")
    sc.addPyFile(str(archive))
    sc.addPyFile(str(tmp_path / f"{pmod}.py"))

    def use(batches):
        import importlib

        total = importlib.import_module(zmod).VALUE + importlib.import_module(pmod).VALUE
        for b in batches:
            yield pa.RecordBatch.from_pydict({"v": [total] * b.num_rows})

    rows = spark.range(8, numPartitions=8).mapInArrow(use, "v long").collect()
    assert [r.v for r in rows] == [18] * 8


def test_daemon_starts_from_any_cwd(tmp_path):
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from arc_kinesis_tagging_spark.session import get_session
        spark = get_session("worker-daemon-cwd", **{{"spark.ui.showConsoleProgress": "false"}})
        assert spark.conf.get("spark.python.daemon.module").endswith("worker_daemon")
        n = spark.range(4, numPartitions=2).mapInArrow(lambda it: it, "id long").count()
        print("ROWS", n)
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k not in ("PYTHONPATH", "SPARK_MASTER")}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="512m")
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert "ROWS 4" in out.stdout, out.stderr[-3000:]


def test_cluster_master_keeps_default_daemon(monkeypatch):
    monkeypatch.setenv("SPARK_MASTER", "spark://head:7077")
    conf = _session_conf({})
    assert "spark.python.daemon.module" not in conf
    assert "spark.executorEnv.PYTHONPATH" not in conf
    monkeypatch.setenv("SPARK_MASTER", "local[2]")
    conf = _session_conf({"spark.executorEnv.PYTHONPATH": "/srv/extra"})
    assert conf["spark.python.daemon.module"] == "arc_kinesis_tagging_spark.worker_daemon"
    assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join([str(REPO), "/srv/extra"])
