"""The message-combiner descriptor: ``AlgorithmSpec.combine`` names one of
``COMBINERS`` and ``combine_messages`` derives every form the runner
ships — with or without ``msg_count``, unsalted or hub-salted."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pregel_golang_implementation_spark.plans.spec import (
    COMBINERS,
    AlgorithmSpec,
    combine_messages,
)
from pregel_golang_implementation_spark.sources.graphs import unsalt_ids

NUM_SALTS = 4


def _salted(hub: int, salt: int) -> int:
    # the key salt_hubs gives a hub dst on salt replica `salt`
    return -(hub * NUM_SALTS + salt) - 1


# id 1: labels 1 and 2 tie at two votes each → mode must pick 1
INBOX_1 = [(1, 3.0), (1, 1.0), (1, 2.0), (1, 2.0), (1, 1.0)]
# id 2: a hub whose inbox is split across all four salt replicas.  Per-
# replica winners would be 5, 5, 7, 4 — merging winners says 5, but the
# whole inbox's mode is 7 (three votes), so counts must cross the unsalt
HUB = {0: [5.0, 7.0], 1: [7.0, 5.0], 2: [7.0], 3: [4.0]}
INBOX_3 = [(3, 9.0)]

EXPECTED = {  # op -> {id: (msg, msg_count)}
    "min": {1: (1.0, 5), 2: (4.0, 6), 3: (9.0, 1)},
    "sum": {1: (9.0, 5), 2: (35.0, 6), 3: (9.0, 1)},
    "mode": {1: (1.0, 5), 2: (7.0, 6), 3: (9.0, 1)},
}


@pytest.mark.parametrize("salted", [False, True], ids=["unsalted", "salted"])
@pytest.mark.parametrize("with_count", [False, True], ids=["slim", "counted"])
@pytest.mark.parametrize("op", COMBINERS)
def test_combine_messages(spark, op, with_count, salted):
    hub_rows = [
        (_salted(2, s) if salted else 2, m) for s, ms in HUB.items() for m in ms
    ]
    msgs = spark.createDataFrame(
        INBOX_1 + hub_rows + INBOX_3, "id long, msg double"
    ).repartition(3)
    unsalt = (
        (lambda df: unsalt_ids(df, id_col="id", num_salts=NUM_SALTS))
        if salted
        else None
    )
    out = combine_messages(msgs, op, with_count, unsalt)
    assert out.columns == (["id", "msg", "msg_count"] if with_count else ["id", "msg"])
    rows = out.orderBy("id").collect()
    want = EXPECTED[op]
    assert [r["id"] for r in rows] == sorted(want)  # exactly one row per id
    for r in rows:
        msg, count = want[r["id"]]
        assert r["msg"] == msg
        if with_count:
            assert r["msg_count"] == count


def test_spec_rejects_unknown_combiner():
    def spec(combine):
        return AlgorithmSpec(
            name="bad",
            init_fn=lambda v: v,
            msg_fn=lambda value, weight, g: value,
            combine=combine,
            apply_fn=lambda old, msg, g: F.coalesce(msg, old),
        )

    with pytest.raises(ValueError, match="'min', 'sum', 'mode'"):
        spec("avg")  # typo
    with pytest.raises(ValueError, match="combine must be one of"):
        spec(lambda msgs: msgs.groupBy("id").agg(F.min("msg").alias("msg")))
    assert spec("mode").combine == "mode"
