"""Unit-test the JDBC partition-transaction body with a stub DB-API module
(the real driver jar is absent in this container — this pins the
transaction/rollback/idempotency-SQL logic that WOULD run on executors)."""

import sys
import types
from collections import namedtuple

import pytest

from futures_eos_cdc_spark.streaming.outbox import partition_txn_writer

Row = namedtuple(
    "Row", "id client_order_id symbol side qty price status event_id payload"
)


class FakeCursor:
    def __init__(self, log, fail_on=None):
        self.log, self.fail_on = log, fail_on

    def executemany(self, sql, params):
        if self.fail_on and self.fail_on in sql:
            raise RuntimeError("boom")
        self.log.append(("executemany", sql, params))


class FakeConn:
    def __init__(self, log, fail_on=None):
        self.log, self.fail_on = log, fail_on

    def cursor(self):
        return FakeCursor(self.log, self.fail_on)

    def commit(self):
        self.log.append(("commit",))

    def rollback(self):
        self.log.append(("rollback",))

    def close(self):
        self.log.append(("close",))


def _install_fake(log, fail_on=None):
    mod = types.ModuleType("jaydebeapi")
    mod.connect = lambda driver, url: FakeConn(log, fail_on)
    sys.modules["jaydebeapi"] = mod


def _rows():
    return [
        Row("o1", "ORD-1", "BTCUSDT", "BUY", 1.0, 100.0, "NEW", "e1", "{}"),
        Row("o2", "ORD-2", "ETHUSDT", "SELL", 2.0, 50.0, "NEW", "e2", "{}"),
    ]


def test_one_txn_two_batched_inserts_then_commit():
    log = []
    _install_fake(log)
    try:
        partition_txn_writer("jdbc:x", {"driver": "d"})(iter(_rows()))
    finally:
        del sys.modules["jaydebeapi"]
    kinds = [e[0] for e in log]
    assert kinds == ["executemany", "executemany", "commit", "close"]
    orders_sql, outbox_sql = log[0][1], log[1][1]
    assert "ON CONFLICT (client_order_id) DO NOTHING" in orders_sql
    assert "ON CONFLICT (event_id) DO NOTHING" in outbox_sql
    assert len(log[0][2]) == 2 and len(log[1][2]) == 2  # batched, not per-row
    assert log[1][2][0][:4] == ["e1", "ORDER", "o1", "ORDER_CREATED"]


def test_failure_rolls_back_and_closes():
    log = []
    _install_fake(log, fail_on="app.outbox")
    try:
        with pytest.raises(RuntimeError, match="boom"):
            partition_txn_writer("jdbc:x", {"driver": "d"})(iter(_rows()))
    finally:
        del sys.modules["jaydebeapi"]
    kinds = [e[0] for e in log]
    assert kinds == ["executemany", "rollback", "close"]  # no partial commit


def test_empty_partition_never_connects():
    log = []
    _install_fake(log)
    try:
        partition_txn_writer("jdbc:x", {"driver": "d"})(iter([]))
    finally:
        del sys.modules["jaydebeapi"]
    assert log == []



def test_foreach_batch_writer_runs_the_partition_body_on_executors(spark):
    """jdbc_orders_outbox_writer hands every partition to the partition
    body on the executors: an empty epoch never connects, and a non-empty
    one without a JDBC bridge fails loudly instead of dropping the batch."""
    from futures_eos_cdc_spark.streaming.outbox import jdbc_orders_outbox_writer

    schema = (
        "id string, client_order_id string, symbol string, side string, "
        "qty double, price double, status string, event_id string, "
        "payload string"
    )
    write = jdbc_orders_outbox_writer("jdbc:x", {"driver": "d"})
    write(spark.createDataFrame([], schema), 0)
    with pytest.raises(Exception, match="JDBC bridge"):
        write(spark.createDataFrame(_rows(), schema), 1)

# ---------------------------------------------------------------------------
# Frozen Postgres-dialect goldens (r12 VERDICT next #6): the DuckDB
# executor (test_jdbc_duckdb_txn) proves the script RUNS, but DuckDB's ON
# CONFLICT grammar overlaps Postgres without equalling it — so the exact
# emitted SQL text is pinned here against the Postgres 9.5+ subset the
# reference schema expects (configmap-init.yaml:49: UNIQUE client_order_id
# / event_id). Any dialect drift now fails THIS test, not a prod deploy.
# ---------------------------------------------------------------------------

_GOLDEN_ORDERS_SQL = (
    "INSERT INTO app.orders (id, client_order_id, symbol, side,"
    " qty, price, status) VALUES (?,?,?,?,?,?,?)"
    " ON CONFLICT (client_order_id) DO NOTHING"
)
_GOLDEN_OUTBOX_SQL = (
    "INSERT INTO app.outbox (event_id, aggregate_type,"
    " aggregate_id, type, payload) VALUES (?,?,?,?,?)"
    " ON CONFLICT (event_id) DO NOTHING"
)


def test_emitted_sql_matches_postgres_goldens_exactly():
    log = []
    _install_fake(log)
    try:
        partition_txn_writer("jdbc:x", {"driver": "d"})(iter(_rows()))
    finally:
        del sys.modules["jaydebeapi"]
    assert log[0][1] == _GOLDEN_ORDERS_SQL
    assert log[1][1] == _GOLDEN_OUTBOX_SQL


def test_emitted_sql_stays_inside_the_postgres_subset():
    """Structural pin: both statements must parse as
    INSERT INTO <schema.table> (<cols>) VALUES (<?s>) ON CONFLICT
    (<col>) DO NOTHING — and use NO engine-specific spellings that DuckDB
    would happily execute but Postgres rejects (or vice versa)."""
    import re

    shape = re.compile(
        r"^INSERT INTO [a-z_]+\.[a-z_]+ \((?: ?[a-z_]+,?)+\)"
        r" VALUES \(\?(?:,\?)*\)"
        r" ON CONFLICT \([a-z_]+\) DO NOTHING$"
    )
    for sql in (_GOLDEN_ORDERS_SQL, _GOLDEN_OUTBOX_SQL):
        assert shape.match(sql), sql
        # spellings that signal a NON-Postgres dialect leaked in
        for bad in ('"', "`", "[", "INSERT OR IGNORE", "ON DUPLICATE KEY",
                    "INSERT IGNORE", "RETURNING", "%s"):
            assert bad not in sql, (bad, sql)
        # the conflict target must be one of the schema's UNIQUE keys
        assert re.search(r"ON CONFLICT \((client_order_id|event_id)\)", sql)
