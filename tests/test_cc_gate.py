"""Connected-components driver edge gate validation (no Spark session
needed)."""

import pytest

from lance_spark.operators.dedup import _cc_edge_gate


def test_default_gate(monkeypatch):
    monkeypatch.delenv("LANCE_SPARK_CC_EDGE_GATE", raising=False)
    assert _cc_edge_gate(None) == 2_000_000


def test_conf_wins_over_env(monkeypatch):
    monkeypatch.setenv("LANCE_SPARK_CC_EDGE_GATE", "7")
    assert _cc_edge_gate(None) == 7
    assert _cc_edge_gate("0") == 0  # 0 = always the distributed loop
    assert _cc_edge_gate(" 500 ") == 500


@pytest.mark.parametrize("raw", ["2e6", "", "lots", "-1", "1.5"])
def test_bad_gate_raises_naming_both_settings(monkeypatch, raw):
    monkeypatch.setenv("LANCE_SPARK_CC_EDGE_GATE", raw)
    for value in (raw, None):  # from the conf, then from the env
        with pytest.raises(ValueError) as err:
            _cc_edge_gate(value)
        assert "lance_spark.cc.driverEdgeGate" in str(err.value)
        assert "LANCE_SPARK_CC_EDGE_GATE" in str(err.value)
