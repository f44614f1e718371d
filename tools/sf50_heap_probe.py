#!/usr/bin/env python
"""sf50 default-heap adjudication probe (VERDICT r12 #3).

The sf50 minhash sweep fails UNABLE_TO_ACQUIRE_MEMORY at the default
8 g but runs clean at 16 g (tools/receipts/sf50_minhash_r12.txt).
sf10 showed the identical symptom in r9 and it turned out to be a
pinned-width bug (fixed width while per-task slices grew) — this
probe decides whether sf50 is the same class or a real heap floor.

Runs ``dedup_minhash_lsh`` once at ``$SPARK_GRAFT_SF_DIR`` (default
.bench_sf50) with the Spark event log enabled, then parses the log
into a per-stage table: task count, input/shuffle-read/shuffle-write
bytes, memory+disk spill, and the MAX per-task peak execution memory
— the number that decides whether 32 concurrent tasks fit the
unified-memory pool. On failure the failing stage and the first
task-failure reason are printed; the run is adjudicated by comparing
the failing stage's per-task arithmetic against the pool size.

Arms (the probe itself is arm-agnostic):
  SPARK_GRAFT_DRIVER_MEM=8g     # heap under test (env)
  an optional width argument    # width experiment: Spark's own
                                # spark.sql.shuffle.partitions, set with
                                # the injected startup confs; a value
                                # other than 200/32 is never autosized

Run:  SPARK_GRAFT_DRIVER_MEM=8g python tools/sf50_heap_probe.py [4096]
"""

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

EVLOG_DIR = "/tmp/spark-graft-evlog"


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", f"{REPO}/.bench_sf50")
    os.makedirs(EVLOG_DIR, exist_ok=True)

    from bigdataprojectspring16_spark import QUERIES, session

    # Event logging is a startup-only conf: inject it before the tool
    # builds its session (tool-local; never part of the product confs).
    width_arm = {"spark.sql.shuffle.partitions": sys.argv[1]} if sys.argv[1:] else {}
    session._STARTUP_CONFS = {
        **session._STARTUP_CONFS,
        **width_arm,
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{EVLOG_DIR}",
        # Single plain-JSON file: no zstandard module in this env,
        # and the probe parses the log line-by-line.
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        # Keep every task's metrics — the probe wants the max peak.
        "spark.eventLog.logStageExecutorMetrics": "true",
    }
    spark = session.get_session("sf50-heap-probe")
    app_id = spark.sparkContext.applicationId
    heap = spark.conf.get("spark.driver.memory")
    width = spark.conf.get("spark.sql.shuffle.partitions")
    print(f"probe: app={app_id} heap={heap} initial shuffle.partitions={width} "
          f"sf_dir={sf_dir}")

    t0 = time.time()
    err = None
    try:
        QUERIES["dedup_minhash_lsh"](spark, sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()
    except Exception as e:  # noqa: BLE001 — failure IS the datum
        err = str(e).split("\n")
    wall = time.time() - t0
    print(f"run: {'FAILED' if err else 'OK'} in {wall:.1f}s "
          f"(final shuffle.partitions="
          f"{spark.conf.get('spark.sql.shuffle.partitions')})")
    if err:
        for line in err[:12]:
            print(f"  err: {line}")
    spark.stop()
    time.sleep(2)  # let the event log flush

    # --- parse the event log ---------------------------------------
    path = os.path.join(EVLOG_DIR, app_id)
    if not os.path.exists(path):
        candidates = [p for p in os.listdir(EVLOG_DIR) if p.startswith(app_id)]
        if not candidates:
            print(f"no event log under {EVLOG_DIR}")
            return 1
        path = os.path.join(EVLOG_DIR, candidates[0])

    stages: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            kind = ev.get("Event")
            if kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                stages.setdefault(info["Stage ID"], {
                    "name": info["Stage Name"].split("\n")[0][:60],
                    "tasks": info["Number of Tasks"],
                    "peak_exec": 0, "sh_read": 0, "sh_write": 0,
                    "mem_spill": 0, "disk_spill": 0, "input": 0,
                    "failed": None, "n_task_end": 0,
                })
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = stages.setdefault(sid, {
                    "name": "?", "tasks": -1, "peak_exec": 0,
                    "sh_read": 0, "sh_write": 0, "mem_spill": 0,
                    "disk_spill": 0, "input": 0, "failed": None,
                    "n_task_end": 0,
                })
                st["n_task_end"] += 1
                m = ev.get("Task Metrics") or {}
                st["peak_exec"] = max(
                    st["peak_exec"], m.get("Peak Execution Memory", 0)
                )
                st["mem_spill"] += m.get("Memory Bytes Spilled", 0)
                st["disk_spill"] += m.get("Disk Bytes Spilled", 0)
                st["input"] += (m.get("Input Metrics") or {}).get(
                    "Bytes Read", 0)
                st["sh_read"] += (
                    (m.get("Shuffle Read Metrics") or {}).get(
                        "Remote Bytes Read", 0)
                    + (m.get("Shuffle Read Metrics") or {}).get(
                        "Local Bytes Read", 0))
                st["sh_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                reason = (ev.get("Task End Reason") or {})
                if reason.get("Reason") not in (None, "Success") and not st["failed"]:
                    st["failed"] = json.dumps(reason)[:400]

    gb = 1 << 30
    print(f"\n{'stage':>5} {'tasks':>6} {'ended':>6} {'input_gb':>9} "
          f"{'shread_gb':>9} {'shwrite_gb':>10} {'spill_gb':>9} "
          f"{'peak_exec_mb':>12}  name")
    for sid in sorted(stages):
        s = stages[sid]
        print(f"{sid:5d} {s['tasks']:6d} {s['n_task_end']:6d} "
              f"{s['input'] / gb:9.2f} {s['sh_read'] / gb:9.2f} "
              f"{s['sh_write'] / gb:10.2f} "
              f"{(s['mem_spill'] + s['disk_spill']) / gb:9.2f} "
              f"{s['peak_exec'] / (1 << 20):12.0f}  {s['name']}")
        if s["failed"]:
            print(f"      FAILED: {s['failed']}")
    return 1 if err else 0


if __name__ == "__main__":
    sys.exit(main())
