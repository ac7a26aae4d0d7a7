"""The event-log reader attributes work to job groups."""

import json

from perfbench import eventlog


def _task(stage, launch, finish, cpu_ns=0, gc_ms=0, read=0, written=0, input_bytes=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {"Executor CPU Time": cpu_ns, "JVM GC Time": gc_ms,
                             "Input Metrics": {"Bytes Read": input_bytes},
                             "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": written}}}


def test_reader_on_a_synthetic_log(tmp_path):
    g = {"spark.jobGroup.id": "op/sinks", "spark.sql.execution.id": "7"}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": g},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}, "Properties": g},
        _task(0, 1000, 1400, cpu_ns=2e8, written=50, input_bytes=10),
        _task(0, 1200, 1500, cpu_ns=1e8, gc_ms=20),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Properties": g},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}, "Properties": g},
        _task(1, 2000, 2100, read=50),
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Properties": {}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2}, "Properties": {}},
        _task(2, 0, 5000, cpu_ns=9e9),
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 7, "sparkPlanInfo": {"nodeName": "Initial", "children": []}},
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
         "executionId": 7, "sparkPlanInfo": {"nodeName": "Final", "children": [{"nodeName": "Exchange"}]}},
    ]
    path = tmp_path / "app"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    groups = eventlog.read(str(path))
    assert set(groups) == {"op/sinks"}
    st = groups["op/sinks"]
    assert (st.jobs, st.stages, st.tasks) == (2, 2, 3)
    assert abs(st.task_cpu_s - 0.3) < 1e-9 and abs(st.gc_s - 0.02) < 1e-9
    assert (st.input_bytes, st.shuffle_bytes) == (10, 100)
    assert abs(st.busy_s() - 0.6) < 1e-9  # [1000,1500] and [2000,2100]
    assert [p["nodeName"] for p in st.plans] == ["Final"]


def test_reader_on_a_two_job_query(spark, log_dir):
    """A shuffle query under adaptive execution runs as two jobs (map
    stage, then result stage); the log and the status tracker agree."""
    sc = spark.sparkContext
    sc.setJobGroup("two-jobs", "test")
    spark.range(0, 10_000, 1, 4).repartition(3, "id").write.mode("overwrite").format("noop").save()
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setJobGroup("other", "test")
    spark.range(0, 100, 1, 2).write.mode("overwrite").format("noop").save()
    sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup("two-jobs")
    stage_ids = {s for j in job_ids for s in tracker.getJobInfo(j).stageIds}
    tasks = sum(tracker.getStageInfo(s).numCompletedTasks for s in stage_ids)
    app_id = sc.applicationId
    spark.stop()
    groups = eventlog.read(eventlog.find_log(log_dir, app_id))
    st = groups["two-jobs"]
    assert st.jobs == len(job_ids) == 2
    assert st.stages == 2 and st.tasks == tasks
    assert st.task_cpu_s > 0 and st.shuffle_bytes > 0 and st.input_bytes == 0
    assert 0 < st.busy_s()
    assert len(st.plans) == 1
    assert groups["other"].jobs == 1 and groups["other"].tasks == 2


def test_plan_shape_counts_catalog_scans_and_exchanges():
    from perfbench.layers import plan_shape

    def leaf(text):
        return {"nodeName": "LocalTableScan", "simpleString": f"LocalTableScan [{text}]", "children": []}

    plan = {"nodeName": "Sort", "children": [
        {"nodeName": "Exchange", "children": [
            leaf("database#0, table_name#1, column_name#2, data_type#4"),  # columns_meta
            {"nodeName": "BroadcastExchange", "children": [leaf("database#9, table_name#10, column_name#12")]},
            {"nodeName": "ReusedExchange", "children": []},
            leaf("table_name#77, column_name#78, is_nullable#80"),  # columns_meta
        ]},
    ]}
    assert plan_shape([plan]) == (2, 2)
