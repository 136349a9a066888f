"""Driver-build budget of the llm_pipeline benchmark queries: building each
one (``spark_queries()[name](spark, sf_dir)``, no execution) sends at most a
stated number of py4j commands and starts no Spark job (no schema
inference, no eager collect).

Commands are counted where perfbench/spans.Py4jCounter counts them, at
``py4j.java_gateway.GatewayClient.send_command``, less the memory-delete
commands py4j sends whenever Python frees Java objects, whose number
depends on when earlier garbage is released, not on the build.

Measured at sf0.01 when the budget was set: similarity_lsh_topk 1,153,
multimodal_byte_stats 64, text_fingerprints 283, dedup_exact 109 commands
(one py4j command per constant element put the first two at about 6,000
and 1,700).  Building the vector and fingerprint helpers and the LSH
top-k ranking as SQL text instead of Column trees of Python lambdas took
similarity_lsh_topk to 64 and text_fingerprints to 78, and their budgets
to 80 and 95.  Building ``normalize_text`` as one SQL expression instead
of a four-call Column chain then took text_fingerprints to 44 and its
budget to 54.  Moving its fingerprint fold from HOF text to one
``map_columns`` pass, whose one ``selectExpr`` also normalizes (a Python
function costs more commands to register than an expression), took it
to 52, within the same budget; pruning through that ``selectExpr``
instead of ``select`` took multimodal_byte_stats from 64 to 58."""

from __future__ import annotations

import py4j.java_gateway as jg
import pytest

from heparchy_spark.queries import spark_queries
from tests.conftest import spark_jobs

SF = "/root/testdata/sf0.01"
BUDGET = {
    "similarity_lsh_topk": 80,
    "multimodal_byte_stats": 100,
    "text_fingerprints": 54,
    "dedup_exact": 150,
}
_MEMORY_DELETE = "m\nd\n"


@pytest.mark.parametrize("name", sorted(BUDGET))
def test_build_py4j_budget_and_no_jobs(spark, name, monkeypatch):
    build = spark_queries()[name]
    build(spark, SF)  # the first build pays one-off JVM class lookups
    sent = []
    orig = jg.GatewayClient.send_command

    def send_command(client, command, *args, **kwargs):
        if not command.startswith(_MEMORY_DELETE):
            sent.append(command)
        return orig(client, command, *args, **kwargs)

    def counted_build():
        with monkeypatch.context() as m:
            m.setattr(jg.GatewayClient, "send_command", send_command)
            build(spark, SF)

    assert spark_jobs(spark, counted_build) == []
    assert 0 < len(sent) <= BUDGET[name], len(sent)
