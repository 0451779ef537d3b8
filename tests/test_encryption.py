"""Field-level encryption (reference internal/security/field_encryption.go:
encrypt at ingest, decrypt at result render)."""

import json

import pytest

from miniodb_spark.encryption import FieldEncryptor, decrypt_col, encrypt_col
from miniodb_spark.engine import Engine

US = 1_000_000
T0 = 1_700_000_000 * US


def test_python_seal_roundtrip():
    enc = FieldEncryptor("secret-key", {"ssn"})
    sealed = enc.encrypt_payload({"ssn": "123-45-6789", "age": 30})
    assert sealed["ssn"].startswith("enc:") and sealed["age"] == 30
    opened = enc.decrypt_row(sealed)
    assert opened == {"ssn": "123-45-6789", "age": 30}


def test_seal_is_randomized_and_tamper_evident():
    enc = FieldEncryptor("k", {"f"})
    a = enc.encrypt_payload({"f": "same"})["f"]
    b = enc.encrypt_payload({"f": "same"})["f"]
    assert a != b  # random nonce
    wrong_key = FieldEncryptor("other", {"f"})
    with pytest.raises(Exception):
        wrong_key.decrypt_row({"f": a})


def test_engine_encrypts_at_rest_decrypts_at_result(spark, tmp_path):
    enc = FieldEncryptor("tenant-key", {"email"})
    eng = Engine(spark, str(tmp_path / "store"), encryptor=enc)
    eng.write("users", {"email": "a@example.com", "age": 30},
              record_id="u1", timestamp_us=T0)
    eng.flush()

    # at rest: sealed
    raw = eng.read_persisted("users").select("email").first()["email"]
    assert raw.startswith("enc:") and "example.com" not in raw

    # at result: transparent
    rows = json.loads(eng.query("SELECT id, email, age FROM users"))
    assert rows == [{"id": "u1", "email": "a@example.com", "age": 30}]


def test_spark_aes_column_roundtrip(spark):
    df = spark.createDataFrame([("top secret",)], "v string")
    out = (
        df.withColumn("ct", encrypt_col("v", "key1"))
        .withColumn("back", decrypt_col("ct", "key1"))
        .first()
    )
    assert out["back"] == "top secret"
    assert out["ct"] != "top secret"


def test_query_stats_and_slow_log(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "store"), slow_query_ms=0.0)
    eng.write("t", {"v": 1}, record_id="a", timestamp_us=T0)
    eng.flush()
    eng.query("SELECT v FROM t")
    st = eng.status()
    assert st["queries"]["count"] == 1
    assert st["queries"]["slow"] == 1  # threshold 0 ⇒ everything is slow
    assert eng.query_stats["slow"][0]["sql"].startswith("SELECT v")
    # the entry splits its time into build (gate, views, pruning,
    # planning) and collect (execution + JSON); the dashboard shows it
    entry = eng.query_stats["slow"][0]
    assert entry["build_ms"] >= 0 and entry["collect_ms"] > 0
    assert entry["build_ms"] + entry["collect_ms"] <= entry["ms"] + 1e-9
