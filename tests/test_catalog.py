"""O13 params validation — ports database_test.go:17-99 / FIXTURES.md A1."""

import json

import pytest

from kadiyadb_spark.catalog import Params, load_all, parse_duration


def test_parse_duration():
    assert parse_duration("1h") == 3_600_000_000_000
    assert parse_duration("1m") == 60_000_000_000
    assert parse_duration("24h") == 24 * 3_600_000_000_000
    assert parse_duration("1h30m") == 5_400_000_000_000
    assert parse_duration(42) == 42
    with pytest.raises(ValueError):
        parse_duration("")
    with pytest.raises(ValueError):
        parse_duration("bogus")


def test_valid_params():
    p = Params.from_dict(
        {"duration": "1h", "resolution": "1m", "retention": "24h", "maxROEpochs": 10, "maxRWEpochs": 3}
    )
    assert p.rsize == 60
    assert p.duration == 3_600_000_000_000


@pytest.mark.parametrize(
    "d",
    [
        {},  # empty params.json
        {"duration": "1h", "resolution": "31m", "retention": "24h"},  # non-dividing resolution
        {"duration": "1h", "resolution": "1m", "retention": "24h", "maxRWEpochs": 0},  # zero cache
        {"duration": "1h", "resolution": "1m", "retention": "90m"},  # retention % duration != 0
        {"duration": 0, "resolution": "1m", "retention": "24h"},  # zero duration
    ],
)
def test_invalid_params(d):
    with pytest.raises(ValueError):
        Params.from_dict(d)


def test_params_have_one_value_grid():
    """Every store folds on the 4-decimal grid: a params.json without
    ``valueDp``, or with 4, parses; ``null`` (raw float64) or another
    grid raises, because the exact fold would re-quantize its totals.
    ``to_dict`` no longer writes the key."""
    base = {"duration": "1h", "resolution": "1m", "retention": "24h"}
    assert Params.from_dict(base) == Params.from_dict({**base, "valueDp": 4})
    assert "valueDp" not in Params.from_dict(base).to_dict()
    for bad, shown in ((None, "null"), (2, "2")):
        with pytest.raises(ValueError, match=f"valueDp {shown} is not"):
            Params.from_dict({**base, "valueDp": bad})


def test_load_all_skips_invalid(tmp_path):
    good = tmp_path / "good"
    good.mkdir()
    (good / "params.json").write_text(
        json.dumps({"duration": "1h", "resolution": "1m", "retention": "24h"})
    )
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "params.json").write_text("{}")
    notdb = tmp_path / "notdb"
    notdb.mkdir()  # no params.json at all
    dbs = load_all(str(tmp_path))
    assert set(dbs) == {"good"}
    assert dbs["good"].rsize == 60


def test_load_all_open_returns_handles(spark, tmp_path):
    from kadiyadb_spark.database import load_all_open

    good = tmp_path / "metrics"
    good.mkdir()
    (good / "params.json").write_text(
        json.dumps({"duration": 5, "resolution": 1, "retention": 10, "fields": ["x", "y"]})
    )
    bad = tmp_path / "broken"
    bad.mkdir()
    (bad / "params.json").write_text("{not json")
    dbs = load_all_open(spark, str(tmp_path))
    assert set(dbs) == {"metrics"}
    db = dbs["metrics"]
    # the handle is usable end-to-end
    from pyspark.sql import Row

    db.track(spark.createDataFrame([Row(ts=0, x="a", y="b", v=2.0)]), total_col="v")
    assert db.fetch(0, 1, ["a", "b"]).collect()[0]["total"] == 2.0


def test_load_all_via_hadoop_fs(spark, tmp_path):
    """Catalog scanning through the Hadoop FS API (object-store path shape)
    must match the local-fs scan: valid dbs loaded, invalid skipped."""
    import json as _json

    from kadiyadb_spark.catalog import load_all

    root = tmp_path / "srv"
    (root / "good").mkdir(parents=True)
    (root / "good" / "params.json").write_text(
        _json.dumps({"duration": "1h", "resolution": "1m", "retention": "720h"})
    )
    (root / "bad").mkdir()
    (root / "bad" / "params.json").write_text("{nope")
    local = load_all(str(root))
    via_fs = load_all(f"file://{root}", spark=spark)
    assert set(local) == set(via_fs) == {"good"}
    assert local["good"] == via_fs["good"]
