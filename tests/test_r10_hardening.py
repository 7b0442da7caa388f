"""Round-10 hardening: the simhash bucket cap and sorted-neighborhood
window are module constants shared by the Spark plan and the oracle SQL
baked at registration, so the two engines can never disagree about them.
"""

from __future__ import annotations


def test_simhash_oracle_bakes_the_import_read_dials():
    """The registered oracle SQL must carry the cap/window constants —
    the literal the SQL uses is the one the Spark plan uses."""
    from importer_spark.queries import ORACLES
    from importer_spark.queries.llm_text import SIMHASH_BUCKET_CAP, SIMHASH_SNM_WINDOW

    sql = ORACLES["simhash_bucket_capped"]
    assert f"bucket_size <= {SIMHASH_BUCKET_CAP}" in sql
    assert f"bucket_size > {SIMHASH_BUCKET_CAP}" in sql
    assert f"y.rn <= x.rn + {SIMHASH_SNM_WINDOW - 1}" in sql
