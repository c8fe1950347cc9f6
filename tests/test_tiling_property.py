"""Property-based round-trip check for tile/reassemble: randomized
payloads (unicode, any length) and chunk sizes — the reference invariant
CombineSplitLogs(loadXmlFile(x)) == x (LogChange.cs:95-98) must hold for
ALL payloads, not just the hand-picked boundary cases in test_tiling.

One Spark job per hypothesis example is too slow, so each example is a
*batch* of payloads round-tripped in a single job.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from bigdatatiler_spark.logstore.tile import reassemble, tile

payload_st = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)),  # any non-surrogate
    max_size=500,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    payloads=st.lists(payload_st, min_size=1, max_size=8),
    chunk=st.integers(min_value=1, max_value=64),
)
def test_roundtrip_property(spark, payloads, chunk):
    df = spark.createDataFrame(
        list(enumerate(payloads)), ["rec_id", "payload"]
    )
    got = {
        r["record_id"]: r["payload"]
        for r in reassemble(
            tile(df, "payload", "rec_id", chunk), id_col="rec_id"
        ).collect()
    }
    assert got == dict(enumerate(payloads))


# O26 byte-cap fixpoint: payloads engineered to straddle the compressed
# cap — highly compressible runs (whole-record zip fits far under cap),
# borderline text, and incompressible pseudo-random text whose first-pass
# ratio estimate overshoots so the validate → shrink → re-split loop must
# actually engage (LogChange.cs:214-257's recursion paths).


def _pseudo_random_text(seed: int, n: int) -> str:
    import hashlib

    out = []
    i = 0
    while sum(len(s) for s in out) < n:
        out.append(hashlib.sha256(f"{seed}|{i}".encode()).hexdigest())
        i += 1
    return "".join(out)[:n]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    sizes=st.lists(st.integers(min_value=0, max_value=4000), min_size=1, max_size=6),
    cap=st.integers(min_value=180, max_value=500),
    compressible=st.booleans(),
)
def test_bytecap_roundtrip_and_cap_property(spark, sizes, cap, compressible):
    from bigdatatiler_spark.logstore.tile import tile_bytecap
    from pyspark.sql import functions as F

    payloads = {
        i: ("ab" * n)[:n] if compressible else _pseudo_random_text(i, n)
        for i, n in enumerate(sizes)
    }
    df = spark.createDataFrame(list(payloads.items()), ["rec_id", "payload"])
    tiled = tile_bytecap(
        df, "payload", "rec_id", max_zip_bytes=cap, first_floor=40, resplit_floor=8
    ).persist()

    # 1. round-trip invariant (the reference's LogChange.cs:95-98 contract)
    got = {
        r["record_id"]: r["payload"]
        for r in reassemble(tiled, id_col="rec_id").collect()
    }
    assert got == payloads

    # 2. byte-cap guarantee: every multi-chunk archive obeys the cap
    #    (single-chunk rows at the floor may legitimately exceed it —
    #    the reference bottoms out its recursion the same way)
    over = tiled.where(
        (F.col("zip_bytes") > cap) & (F.length("chunk") > 8)
    ).count()
    assert over == 0, f"{over} shrinkable chunks exceed the cap"

    # 3. dense 0..n-1 split indices per record
    for r in (
        tiled.groupBy("rec_id")
        .agg(
            F.collect_list("split_index").alias("idx"),
            F.max("total_splits").alias("tot"),
        )
        .collect()
    ):
        assert sorted(r["idx"]) == list(range(r["tot"]))
    tiled.unpersist()


def test_bytecap_round_exhaustion_raises(spark):
    """A mixed payload (compressible runs + incompressible text) whose
    first-pass chunks overshoot the cap needs several re-split rounds.
    With one round the residue is still over the cap: tile_bytecap must
    raise, not return the text without it."""
    from bigdatatiler_spark.logstore.tile import tile_bytecap
    from bigdatatiler_spark.operators._util import FixpointNotConverged

    payload = "".join(
        ("ab" * 700 + _pseudo_random_text(i, 1500)) for i in range(5)
    )
    df = spark.createDataFrame([(0, payload)], ["rec_id", "payload"])
    kw = dict(max_zip_bytes=400, first_floor=200, resplit_floor=50)
    with pytest.raises(FixpointNotConverged, match="max_rounds=1"):
        tile_bytecap(df, "payload", "rec_id", max_rounds=1, **kw)
    tiled = tile_bytecap(df, "payload", "rec_id", **kw)
    got = reassemble(tiled, id_col="rec_id").collect()
    assert [r["payload"] for r in got] == [payload]
