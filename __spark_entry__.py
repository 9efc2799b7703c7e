"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship query on sf0.001; ``queries`` maps every
implemented SURVEY.md §2 operator to a (spark, sf_dir) -> DataFrame
callable; ``oracle_sql`` gives the DuckDB-equivalent SQL for each.
Implementation lives in :mod:`aistore_spark.benchqueries`.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from aistore_spark.benchqueries import ORACLES, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["dsort_pipeline"](spark, "/root/testdata/sf0.001")


# The external correctness check covers exactly the first 50
# registered queries, so this list decides which queries get its
# rows+schema+hash check. The rule (tests/test_driver_contract.py):
# every query whose fingerprint (tools/query_fps.py) differs from
# tests/driver_green_fps.json, or that has no hash-green row in a
# committed CORRECTNESS_r*.json ledger, is in the list, as are the
# helper sentinels and the standing high-risk shortlist. The
# other slots hold representatives of operator families whose
# executed path changed. A query leaves the list only with an
# unchanged fingerprint and a hash-green ledger row.
DRIVER_CHECK_PRIORITY = [
    # fingerprint-stale
    "dd12_minhash_estimate",
    "dd12b_minhash_estimate_capped",
    "dd2b_ngram_jaccard_capped",
    "ann9d_ivfpq_sqrt_cells",
    "ann9e_ivfpq_recall_held",
    "d8_dsort_io",
    "dsort_pipeline",
    "g1c_assemble_batches_io",
    "pipe1_curation",
    "pipe2_export_shards",
    "ev8_funnel",
    "tx14_novelty",
    "ann9c_ivfpq_refined_clustered",
    "m12_catalog_upsert",
    "m13_catalog_compact",
    "g2_coloc_routing",
    "f2b_template_udtf",
    "ds2c_download_errors",
    "ds2d_download_status",
    "s7b_dsv2_listing",
    "t1_inline_etl",
    "t2_offline_pipeline",
    "t6_canned_sha256",
    "t8_direct_put",
    "s4c_lz4_listing",
    "t13_face_detect",
    "t11_keras_augment",
    "t12_ws_etl_channel",
    "ds2_download_exec",
    "ds2b_download_http",
    "ds3b_download_etl_http",
    # helper sentinels (tools/query_fps.py HELPER_SENTINELS)
    "p2_extract_member",
    "p4_archive_append",
    "s4b_zip_listing",
    "mm12_media_decode_io",
    "ann8_pq_adc_topk",
    # standing shortlist
    "dd2_ngram_jaccard",
    "dd7_dup_groups",
    "g1_assemble_batches",
    "g1_mixed_batches",
    "g3_output_formats",
    "p1_pack_archive",
    # operator-family representatives
    "ann9_ivfpq_topk",
    "dd5_embedding_neardup",
    "mm8_gif_decode",
    "pipe3_dedup_report",
    "p1b_pack_archive_io",
    "s4d_shard_index_io",
    "mm9_media_dispatch",
    "mm4b_gif_frame_extract",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    head = {n: QUERIES[n] for n in DRIVER_CHECK_PRIORITY if n in QUERIES}
    head.update({n: f for n, f in QUERIES.items() if n not in head})
    return head


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
