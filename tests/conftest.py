import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from lumbermill_spark import session

    sp = session.get_spark("pytest", master="local[4]", shuffle_partitions=4)
    sp.sparkContext.setLogLevel("ERROR")
    yield sp
    sp.stop()


@pytest.fixture
def lazy_pins(spark, monkeypatch):
    """Swap the extras' one materialization rule (_plan.pin) for the
    identity, so operators return their lazy plans: an eager checkpoint
    collapses a plan to a LogicalRDD, which would make plan-shape asserts
    vacuous. The caches a pin would have released are cleared on teardown,
    so later tests' empty-cache checks still run."""
    from lumbermill_spark.extras import _plan

    monkeypatch.setattr(_plan, "pin", lambda df, *release: df)
    yield
    spark.catalog.clearCache()


def make_transcripts_df(spark, rows):
    """rows: list of (conv_id, turn_idx, role, text, tool, ts_us)."""
    import pyarrow as pa

    from lumbermill_spark import schemas as S

    tbl = pa.table(
        {
            "conv_id": pa.array([r[0] for r in rows], type=pa.string()),
            "turn_idx": pa.array([r[1] for r in rows], type=pa.int32()),
            "role": pa.array([r[2] for r in rows], type=pa.string()),
            "text": pa.array([r[3] for r in rows], type=pa.string()),
            "tool": pa.array([r[4] for r in rows], type=pa.string()),
            "ts": pa.array([r[5] for r in rows], type=pa.timestamp("us", tz="UTC")),
        }
    )
    return spark.createDataFrame(tbl.to_pandas(), schema=S.TRANSCRIPTS_SCHEMA)
