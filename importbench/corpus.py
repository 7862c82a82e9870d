"""Seeded import corpora and their DuckDB oracles.

Each workload samples its own ``orders`` table from the seed, derives the
Zeebe event log from it with ``synthetic.derivation_sql("duckdb")`` and
orders the envelopes by (timestamp, position), the order a broker would
deliver them in. The expected tenant tables come from the package's
``synthetic.*_ORACLE`` SQL, evaluated over the whole corpus or over any
prefix of it.

Nothing here starts Spark: a corpus is plain Python data, so generating it
is timed apart from the importer's set-up.
"""

from __future__ import annotations

import datetime as dt
import json
from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd

from ph_ee_nats_importer_rdbms_spark.plans import synthetic

TENANTS = ("tn0", "tn1", "tn2")

#: sink table -> (oracle SQL, {sink column: oracle column} where they differ)
ORACLES = {
    "ph_transfers": (
        synthetic.TRANSFERS_ORACLE,
        {"started_at": "started_at_ms", "completed_at": "completed_at_ms"},
    ),
    "ph_transaction_requests": (
        synthetic.TRANSACTION_REQUESTS_ORACLE,
        {"started_at": "started_at_ms", "completed_at": "completed_at_ms"},
    ),
    "ph_batches": (
        synthetic.BATCHES_ORACLE,
        {
            "started_at": "started_at_ms",
            "completed_at": "completed_at_ms",
            "result_generated_at": "result_generated_at_ms",
        },
    ),
    "ph_tasks": (synthetic.TASKS_ORACLE, {}),
    "ph_variables": (synthetic.VARIABLES_ORACLE, {}),
}


@dataclass(frozen=True)
class Workload:
    """How a workload samples its orders and delivers its envelopes."""

    orders: int
    #: probability of each tenant of ``TENANTS`` per order
    tenant_p: tuple[float, float, float]
    #: every order key is a multiple of 20 (a call-activity parent)
    linked: bool
    #: equal envelope-count waves, each drained by its own call
    waves: int


WORKLOADS = {
    "import_bulk": Workload(orders=1100, tenant_p=(0.8, 0.1, 0.1), linked=False, waves=1),
    "import_waves": Workload(orders=140, tenant_p=(1 / 3, 1 / 3, 1 / 3), linked=False, waves=2),
    "import_linked": Workload(orders=1500, tenant_p=(1 / 3, 1 / 3, 1 / 3), linked=True, waves=1),
    # the untimed set-up deployment, and the orders of the traced run's
    # query-layer probe: small, as their cost is fixed, not per row
    "warmup": Workload(orders=20, tenant_p=(1 / 3, 1 / 3, 1 / 3), linked=False, waves=1),
}

_EPOCH = dt.date(1992, 1, 1)
_ORDERS_DDL = """
CREATE TABLE orders AS SELECT
  CAST(o_orderkey AS BIGINT) AS o_orderkey,
  CAST(o_custkey AS BIGINT) AS o_custkey,
  CAST(o_orderstatus AS VARCHAR) AS o_orderstatus,
  CAST(o_totalprice AS DECIMAL(15,2)) AS o_totalprice,
  CAST(o_orderdate AS DATE) AS o_orderdate
FROM orders_df
"""


def sample_orders(workload: Workload, seed: int) -> pd.DataFrame:
    """A TPC-H-shaped ``orders`` sample; the same seed gives the same rows."""
    rng = np.random.default_rng(seed)
    n = workload.orders
    if workload.linked:
        keys = (rng.choice(300_000, size=n, replace=False) + 1) * 20
    else:
        keys = rng.choice(6_000_000, size=n, replace=False) + 1
    tenant = rng.choice(3, size=n, p=workload.tenant_p)
    cust = rng.integers(0, 50_000, size=n) * 3 + tenant
    days = rng.integers(0, 2400, size=n)
    return pd.DataFrame(
        {
            "o_orderkey": keys.astype("int64"),
            "o_custkey": cust.astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], size=n, p=[0.49, 0.49, 0.02]),
            "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, size=n), 2),
            "o_orderdate": [_EPOCH + dt.timedelta(days=int(d)) for d in days],
        }
    )


def _envelope(row: dict) -> bytes:
    """One flat event row -> raw Zeebe 1.x envelope JSON, nulls omitted
    (the inverse of ``operators.classify.parse_envelope``)."""
    value = {
        "bpmnProcessId": row["bpmn_process_id"],
        "processInstanceKey": row["process_instance_key"],
        "processDefinitionKey": row["process_definition_key"],
        "parentProcessInstanceKey": row["parent_process_instance_key"],
        "bpmnElementType": row["bpmn_element_type"],
        "elementId": row["element_id"],
        "name": row["name"],
        "type": row["job_type"],
        "value": row["value"],
    }
    env = {
        "partitionId": row["partition_id"],
        "position": row["position"],
        "key": row["key"],
        "timestamp": row["timestamp"],
        "recordType": row["record_type"],
        "valueType": row["value_type"],
        "intent": row["intent"],
        "value": {k: v for k, v in value.items() if v is not None},
    }
    return json.dumps(env, separators=(",", ":")).encode()


class Corpus:
    """The envelopes of one workload and seed, with oracle access.

    ``envelopes`` is in delivery order; ``waves`` holds the cut points
    (envelope counts) of each publish wave."""

    def __init__(self, name: str, seed: int) -> None:
        self.name = name
        self.workload = WORKLOADS[name]
        self.con = duckdb.connect()
        orders_df = sample_orders(self.workload, seed)  # noqa: F841 — read by DuckDB
        self.con.execute(_ORDERS_DDL)
        self.con.execute(
            "CREATE TABLE ev AS SELECT *, row_number() OVER "
            "(ORDER BY timestamp, position) AS rn FROM ("
            f"WITH {synthetic.derivation_sql('duckdb')} SELECT * FROM zeebe_events)"
        )
        cur = self.con.execute("SELECT * EXCLUDE (rn) FROM ev ORDER BY rn")
        cols = [d[0] for d in cur.description]
        self.envelopes = [_envelope(dict(zip(cols, r))) for r in cur.fetchall()]
        n, w = len(self.envelopes), self.workload.waves
        self.waves = [n * (i + 1) // w for i in range(w)]

    def close(self) -> None:
        self.con.close()

    def expected(self, upto: int | None = None, drop: tuple[int, int] | None = None) -> dict:
        """Oracle tenant tables over the envelopes ``[0, upto)``, or over the
        whole corpus without the envelopes ``[drop[0], drop[1])``:
        {table: DataFrame with the sink's column names plus ``tenant``}."""
        where = "TRUE"
        if upto is not None:
            where = f"rn <= {int(upto)}"
        if drop is not None:
            where = f"NOT (rn > {int(drop[0])} AND rn <= {int(drop[1])})"
        events = f"zeebe_events AS (SELECT * EXCLUDE (rn) FROM ev WHERE {where})"
        out = {}
        for table, (sql, renames) in ORACLES.items():
            body = sql.replace(synthetic.derivation_sql("duckdb"), events, 1)
            df = self.con.execute(
                "SELECT o.*, 'tn' || CAST(ord.o_custkey % 3 AS VARCHAR) AS tenant "
                f"FROM ({body}) o JOIN orders ord "
                "ON ord.o_orderkey = o.workflow_instance_key // 10"
            ).fetchdf()
            out[table] = df.rename(columns={v: k for k, v in renames.items()})
        return out

    def properties(self) -> dict:
        """Workload properties that repeat exactly for a seed: envelope and
        instance counts, the share of envelopes that take rekey's dict path
        (those of call-activity child instances: only a group holding a
        link takes ``state.rekey_step``), and the top tenant's share of
        instances."""
        envelopes, instances, child_rows, top = self.con.execute(
            """
            WITH children AS (
              SELECT DISTINCT process_instance_key FROM ev
              WHERE value_type = 'PROCESS_INSTANCE' AND bpmn_element_type = 'PROCESS'
                AND intent = 'ELEMENT_ACTIVATING' AND parent_process_instance_key > 0
            ), per_tenant AS (
              SELECT o_custkey % 3 AS t, count(*) AS n FROM orders GROUP BY 1
            )
            SELECT (SELECT count(*) FROM ev),
                   (SELECT count(*) FROM orders),
                   (SELECT count(*) FROM ev
                    WHERE process_instance_key IN (SELECT * FROM children)),
                   (SELECT max(n) FROM per_tenant)
            """
        ).fetchone()
        return {
            "corpus.envelopes": envelopes,
            "corpus.instances": instances,
            "corpus.dict_path_share": child_rows / envelopes,
            "corpus.top_tenant_share": top / instances,
        }
