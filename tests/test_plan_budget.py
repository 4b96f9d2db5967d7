"""Plan-construction budget: building the flagship plans costs a few hundred
Py4J round trips, not thousands. In classic mode a Column method, or a
function such as ``col`` or ``when``, costs 11-14 round trips
(``_with_origin``), an SQL expression string one, so these budgets hold
only while the expressions stay SQL text (``functions/sqltext.py``). No
job runs."""

from __future__ import annotations

import gc
import threading

import pytest
from py4j.clientserver import ClientServerConnection

from tgist_features_spark.plans.backfill import backfill_features, turn_features
from tgist_features_spark.plans.lineage import _written_frame
from tgist_features_spark.sources.corpus import (
    generate_queries_pdf,
    queries_df,
    transcripts_df,
)


def _py4j_calls(build) -> int:
    """Py4J commands this thread sends while ``build()`` runs, after one
    warm-up build (the first build also resolves JVM classes). py4j also
    sends a command when a Python proxy is freed: the collector is off,
    and py4j's finalizer thread, which sends the frees of earlier builds,
    is not counted."""
    build()
    sent = 0
    send = ClientServerConnection.send_command
    me = threading.get_ident()

    def counting(self, command):
        nonlocal sent
        sent += threading.get_ident() == me
        return send(self, command)

    gc.collect()
    gc.disable()
    ClientServerConnection.send_command = counting
    try:
        build()
    finally:
        ClientServerConnection.send_command = send
        gc.enable()
    return sent


@pytest.fixture(scope="module")
def sides(spark, tiny_pdf):
    t = transcripts_df(spark, tiny_pdf)
    q = queries_df(spark, generate_queries_pdf(tiny_pdf, n_queries=50, seed=3))
    return t, q


def test_turn_features_build_budget(sides):
    """Canonical order and one ``mapInArrow``: 94 calls on pyspark 4.1."""
    t, _ = sides
    assert _py4j_calls(lambda: turn_features(t)) <= 120


def test_backfill_features_build_budget(sides):
    """The as-of's one plan: 138 calls on pyspark 4.1."""
    t, q = sides
    feats = turn_features(t)
    assert _py4j_calls(lambda: backfill_features(feats, q)) <= 350


def test_incremental_frame_cost_per_bucket(sides):
    """Each pending bucket adds two observed metrics to the written frame;
    16 pending buckets may cost at most 150 calls more than one."""
    t, _ = sides
    one = _py4j_calls(lambda: _written_frame(t, [3], 16, 1800.0))
    all_ = _py4j_calls(lambda: _written_frame(t, list(range(16)), 16, 1800.0))
    assert all_ - one <= 150, (one, all_)
