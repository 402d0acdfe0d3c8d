"""The entry contract declares every analyzer query: the reference
dataflow, the S2 decode tiers, the wired topology and its E3 loop, the
drift report with its four detectors, and the large-message round trip —
each with a DuckDB oracle. The catalog's queries ride alongside them;
deleting an analyzer query by mistake fails here."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod

DECLARED = {
    # the reference dataflow
    "a1_error_stats",
    "a1_first_example",
    "n1_context_enrich",
    "n2_classify",
    "n3_ts_format",
    "k1_elastic_key",
    "u1_union_filters",
    "p1_streams_parse",
    "p2_connect_description",
    "p3_native_description",
    "p4_header_extract",
    # decode
    "s2_decode_cascade",
    "s2_avro_wire",
    "s2_avro_key",
    "s2_avro_multischema",
    # wiring
    "m1_topology_main",
    "e3_feedback_stats",
    # drift
    "x_cusum_changepoint",
    "x_theilsen_trend",
    "x_hampel_outliers",
    "x_mann_kendall",
    "x_drift_report",
    # large messages
    "x_large_message_roundtrip",
}


def test_declared_queries_include_the_analyzer():
    assert DECLARED <= set(entry_mod.queries())


def test_every_analyzer_query_has_an_oracle():
    oracles = entry_mod.oracle_sql()
    assert DECLARED <= set(oracles)
    assert all(oracles[name].strip() for name in DECLARED)
