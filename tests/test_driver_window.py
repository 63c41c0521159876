"""Catalog checks that hold for whichever prefix of the catalog a driver
runs: every entry carries a DuckDB oracle, and recently added entries stay
registered."""

from kamodo_dask_spark.queries import ORACLES, QUERIES

#: Presence floor for the most recent additions. The catalog-wide checks are
#: computed from the catalog, so they cannot notice an entry being deleted
#: outright; this hardcoded list can.
PENDING_THIS_ROUND: list[str] = [
    "quantile_sketch",
    "streaming_quantile_sketch",
    "cc_incremental",
]


def test_pending_entries_still_registered():
    missing = [n for n in PENDING_THIS_ROUND if n not in QUERIES]
    assert not missing, f"pending entries vanished from the catalog: {missing}"


def test_every_entry_has_an_oracle_or_is_known_weak():
    """Omitting an oracle downgrades the driver check to rows-only — keep
    the list of such entries explicit and empty."""
    no_oracle = [n for n in QUERIES if n not in ORACLES]
    assert no_oracle == [], f"entries without a DuckDB oracle: {no_oracle}"
