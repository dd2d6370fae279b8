"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline query at sf0.001;
``queries()``/``oracle_sql()`` expose the operator registry from
logsight_filebeat_spark.entry_queries, verified against DuckDB at sf0.01.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query at sf0.001: the full north-rule pages pipeline
    (multiline join → grok parse → map+validate → broadcast enrich → route →
    per-(sink, warc_ts-hour) aggregates) over the input_hint pages table."""
    from logsight_filebeat_spark.entry_queries import QUERIES

    return QUERIES["pg_flagship"](spark, "/root/testdata/sf0.001")


def _driver_verified() -> set[str]:
    """Names already green in a past round's driver artifact. The driver's
    correctness window covers the FIRST 50 registry entries only, so
    ``queries()`` rotates never-driver-verified entries to the front each
    round — otherwise the newest ~70 queries would never get a driver
    verdict. Read dynamically from the committed CORRECTNESS_r*.json so
    the rotation continues automatically in later rounds. (Every query,
    windowed or not, is additionally value-exact-verified each round by
    tools/check_correctness.py; the sweep is committed as
    CORRECTNESS_local_r*.json.)"""
    import glob
    import json

    seen: set[str] = set()
    here = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        try:
            with open(path) as fh:
                seen.update(json.load(fh).keys())
        except (OSError, ValueError):
            continue
    return seen


# Queries whose IMPLEMENTATION or oracle changed in the current round —
# they outrank plain never-verified entries in the driver window (a changed
# query needs a fresh driver verdict even if an old artifact covered the
# previous behavior). Maintained per round.
_ROUND_CHANGED = [
    # round 5: new queries (LPA communities, LSH edit-distance verify,
    # multi-index SRP hamming, KS drift, exact-integer correlations,
    # lang-ID confusion matrix, Adamic-Adar)
    "wg_lpa", "dd_edit_verify", "ann_srp_hamming", "tx_ks_drift",
    "tx_signal_corr", "tx_lang_confusion", "wg_adamic_adar",
    # behavior changed AFTER the r04 artifact was recorded (the
    # post-round-4 advisor fixes: random_walks seed delimiting, base64
    # UTF-8 validation, bootstrap zero-weight NULL, idempotent bucketed
    # writes) — their r04 verdicts cover the PREVIOUS behavior
    "wg_walks", "op_base64", "tx_bootstrap", "tx_bucketed_join",
    # round-4 behavior/plan changes whose last driver verdict predates
    # the change (not in the r04 window)
    "wg_canonical", "ev_anomaly", "tx_lm_score", "pg_etld1", "pg_host_cap",
    "dd_incremental", "dd_sample",
    # round-5 plan rewrites (values verified identical locally, but the
    # executed plan changed — fresh driver verdict wanted)
    "dd_novelty",
]

# Driver-unseen queries to spend the FINAL round's remaining window slots
# on: the flagship operators a reference user would reach for first, ahead
# of long-tail variants. Remaining unseen entries keep registry order after
# these.
_PRIORITY_UNSEEN = [
    "wg_pagerank", "dd_substring", "dd_substring_cut", "dd_contamination",
    "dd_line_dedup", "tx_bpe_learn", "tx_bpe_tokens", "ir_bm25", "ir_rrf",
    "tx_tfidf", "tx_gopher", "tx_ccnet", "tx_repetition", "dd_dsir",
    "pg_log_templates", "pg_main_content", "wg_hits", "wg_triangles",
    "wg_trustrank", "ev_sessions", "ev_asof", "ev_funnel", "ev_retention",
    "st_dedup", "st_agg", "warc_harvest", "mm_features", "dd_curation_cc",
]


def _rotated(mapping: dict) -> dict:
    seen = _driver_verified()
    changed = {k: mapping[k] for k in _ROUND_CHANGED if k in mapping}
    priority = {
        k: mapping[k]
        for k in _PRIORITY_UNSEEN
        if k in mapping and k not in seen and k not in changed
    }
    unseen = {
        k: v
        for k, v in mapping.items()
        if k not in seen and k not in changed and k not in priority
    }
    rest = {
        k: v for k, v in mapping.items() if k in seen and k not in changed
    }
    return {**changed, **priority, **unseen, **rest}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from logsight_filebeat_spark.entry_queries import QUERIES

    return _rotated(dict(QUERIES))


def oracle_sql() -> dict[str, str]:
    from logsight_filebeat_spark.entry_queries import ORACLES

    return _rotated(dict(ORACLES))
