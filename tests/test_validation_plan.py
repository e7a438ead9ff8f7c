"""Plan and py4j-call pins for the validator (plans/).

* The window rules of the fixture config (unique-daily on batch_number,
  duplicate_check on timestamp, line_id, batch_number) share one hash
  exchange on (FileSource, batch_number), computed on the raw rows.
* Window rules that share only the file scope keep one exchange each, so a
  single file is never funnelled into one task.
* Building the annotated frame is a few dozen py4j calls: the rules go to
  the JVM as SQL text, not as one call per Column node.
"""

import dataclasses
import re

import py4j.java_gateway
import pytest
from pyspark.sql import functions as F

from manufacturing_data_integration_tool_spark import GlobalRule, load_config
from manufacturing_data_integration_tool_spark.plans.validator import annotate_errors


@pytest.fixture(scope="module")
def cfg(mapping_config_path):
    return load_config(mapping_config_path)


@pytest.fixture(scope="module")
def lineage_df(spark, golden_csv):
    return spark.read.csv(golden_csv, header=True).withColumn("FileSource", F.input_file_name())


@pytest.fixture(scope="module")
def dims(spark):
    ops = spark.createDataFrame([("OP0001",), ("OP0002",)], "operator_id string")
    return {"Production.Operators": ops}


def _depth(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


def _under_top_window(df) -> list[str]:
    """The physical plan lines in the subtree of the topmost Window node."""
    lines = df._jdf.queryExecution().executedPlan().treeString().splitlines()
    top = next(i for i, ln in enumerate(lines) if ln.lstrip(" :+-").startswith("Window "))
    d = _depth(lines[top])
    sub = [lines[top]]
    for ln in lines[top + 1:]:
        if _depth(ln) <= d:
            break
        sub.append(ln)
    return sub


def _nodes(lines: list[str], name: str) -> list[str]:
    return [ln.lstrip(" :+-") for ln in lines if ln.lstrip(" :+-").startswith(name + " ")]


def test_window_rules_share_one_exchange_on_common_keys(cfg, lineage_df, dims):
    out = annotate_errors(lineage_df, cfg, extensions=True, dim_tables=dims)
    sub = _under_top_window(out)
    assert len(_nodes(sub, "Window")) == 2
    exchanges = _nodes(sub, "Exchange")
    assert len(exchanges) == 1, exchanges
    assert re.match(r"Exchange hashpartitioning\(FileSource#\d+, batch_number#\d+, \d+\)", exchanges[0])
    # facts on raw rows: no join and no errors array below the windows
    assert not _nodes(sub, "BroadcastHashJoin")
    assert not any("errors" in ln for ln in sub)
    assert out.columns == lineage_df.columns + ["errors"]


def test_window_rules_sharing_only_the_file_scope_keep_own_exchanges(cfg, lineage_df, dims):
    rules = tuple(
        GlobalRule("duplicate_check", {"fields": "timestamp,line_id"}) if g.kind == "duplicate_check" else g
        for g in cfg.global_rules
    )
    out = annotate_errors(
        lineage_df, dataclasses.replace(cfg, global_rules=rules), extensions=True, dim_tables=dims
    )
    sub = _under_top_window(out)
    assert len(_nodes(sub, "Window")) == 2
    exchanges = _nodes(sub, "Exchange")
    assert len(exchanges) == 2, exchanges
    for ex in exchanges:
        assert ex.startswith("Exchange hashpartitioning(FileSource#")
        assert "REPARTITION" not in ex
        # each window hashes on its own keys, never on the file alone
        assert not re.match(r"Exchange hashpartitioning\(FileSource#\d+, \d+\)", ex)


@pytest.mark.parametrize("extensions", [False, True])
def test_annotate_errors_py4j_calls_are_bounded(cfg, lineage_df, dims, monkeypatch, extensions):
    """Counts py4j call commands (``c\\n``) only: garbage-collection
    messages ride the same client and would make raw counts noisy."""
    calls = []
    send = py4j.java_gateway.GatewayClient.send_command

    def counting(self, command, *args, **kwargs):
        if command.startswith("c\n"):
            calls.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(py4j.java_gateway.GatewayClient, "send_command", counting)
    annotate_errors(lineage_df, cfg, extensions=extensions, dim_tables=dims)
    monkeypatch.setattr(py4j.java_gateway.GatewayClient, "send_command", send)
    assert len(calls) <= 100
