"""The plan tool (tools/explain_audit.py) validates every ``--only``
name before it starts a Spark session, and exits non-zero naming the
unknown ones."""

import importlib.util
import os

import pytest

TOOL = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "tools", "explain_audit.py")


def test_explain_audit_rejects_unknown_query_before_spark(monkeypatch, capsys):
    from distributed_gpu_lsh_using_sycl_spark.sources import tables

    def no_spark(*args, **kwargs):
        raise AssertionError("Spark session started before --only was validated")

    monkeypatch.setattr(tables, "get_spark", no_spark)
    spec = importlib.util.spec_from_file_location("explain_audit", TOOL)
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)

    with pytest.raises(SystemExit) as exc:
        tool.main(["--only", "no_such_query"])
    assert exc.value.code != 0
    assert "no_such_query" in capsys.readouterr().err
