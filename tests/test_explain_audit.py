"""The plan tool (tools/explain_audit.py) validates every ``--only``
name before it starts a Spark session, and exits non-zero naming the
unknown ones; its markers cover the SQL executions a query runs while
building its frame."""

import importlib.util
import os

import pytest

TOOL = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "tools", "explain_audit.py")


def _tool():
    spec = importlib.util.spec_from_file_location("explain_audit", TOOL)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    return tool


def test_explain_audit_rejects_unknown_query_before_spark(monkeypatch, capsys):
    from distributed_gpu_lsh_using_sycl_spark.sources import tables

    def no_spark(*args, **kwargs):
        raise AssertionError("Spark session started before --only was validated")

    monkeypatch.setattr(tables, "get_spark", no_spark)
    tool = _tool()

    with pytest.raises(SystemExit) as exc:
        tool.main(["--only", "no_such_query"])
    assert exc.value.code != 0
    assert "no_such_query" in capsys.readouterr().err


def test_explain_audit_counts_executions_the_query_ran(spark):
    """A join inside a checkpoint job reaches the audit: the checkpoint's
    execution is counted in ``execs`` and its shuffle and join in the
    markers, though the final frame's plan only scans the checkpoint."""
    from pyspark.sql import functions as F

    def build():
        a = spark.range(200).withColumn("k", F.col("id") % 7)
        b = spark.range(7).withColumnRenamed("id", "k")
        joined = a.join(F.broadcast(b), "k").groupBy("k").count()
        return joined.localCheckpoint(eager=True).select("k")

    tool = _tool()
    final_only = tool._markers(
        build()._jdf.queryExecution().executedPlan().toString())
    assert final_only["exchanges"] == final_only["bcast_joins"] == 0
    got = tool.audit_query(spark, build)
    assert got["execs"] >= 1
    assert got["exchanges"] >= 1 and got["bcast_joins"] >= 1


def test_only_run_replaces_the_named_rows_and_keeps_the_rest():
    """An ``--only`` audit replaces the named query's row and review note
    in PLANS.md; the other rows and their notes stay as they were."""
    tool = _tool()
    head = ["# PLANS", "", "| query | execs | exch |", "|---|---|---|"]
    guide = ["", "Reading guide: ..."]
    old = "\n".join(head + [
        "| q_a | 1 | 1 |", "| q_b | 2 | 2 |", "| q_c | 3 | 3 |",
        "", "## Review notes", "",
        "- `q_a`: 1 sort-merge join(s), old note a",
        "- `q_b`: 2 sort-merge join(s), old note b",
        "- `q_c`: 3 sort-merge join(s), old note c"] + guide) + "\n"
    new = "\n".join(head + [
        "| q_b | 5 | 0 |", "", "## Review notes", "",
        "- `q_b`: 1 sort-merge join(s), new note b"] + guide) + "\n"
    got = tool.merge_plans(old, new, ["q_b"])
    assert got == old.replace("| q_b | 2 | 2 |", "| q_b | 5 | 0 |") \
        .replace("2 sort-merge join(s), old note b",
                 "1 sort-merge join(s), new note b")

    # the named query's note goes when its fresh audit has none; the
    # other notes keep the section from reading "none found"
    new = "\n".join(head + ["| q_b | 5 | 0 |", "", "## Review notes", "",
                            tool.NO_NOTES] + guide) + "\n"
    got = tool.merge_plans(old, new, ["q_b"]).splitlines()
    assert "| q_a | 1 | 1 |" in got and "| q_c | 3 | 3 |" in got
    assert [x for x in got if x.startswith("- ")] == [
        "- `q_a`: 1 sort-merge join(s), old note a",
        "- `q_c`: 3 sort-merge join(s), old note c"]
