"""Tests for the ingest API (reference S7-S10)."""

from __future__ import annotations

import json
import urllib.request
import uuid

from datalakes_and_data_integration_spark.sources.ingest_api import serve


def _post(url: str, body: bytes, content_type: str):
    req = urllib.request.Request(url, data=body, method="POST")
    req.add_header("Content-Type", content_type)
    with urllib.request.urlopen(req) as resp:
        return resp.status, json.loads(resp.read())


def _multipart(files: dict[str, bytes]) -> tuple[bytes, str]:
    boundary = uuid.uuid4().hex
    parts = []
    for name, payload in files.items():
        parts.append(
            f'--{boundary}\r\nContent-Disposition: form-data; '
            f'name="file"; filename="{name}"\r\n'
            f"Content-Type: text/csv\r\n\r\n".encode() + payload + b"\r\n"
        )
    body = b"".join(parts) + f"--{boundary}--\r\n".encode()
    return body, f"multipart/form-data; boundary={boundary}"


def test_ingest_api_stores_and_triggers(tmp_path):
    triggered = []
    server = serve(str(tmp_path / "landing"), trigger=triggered.append)
    port = server.server_address[1]
    try:
        csv = "﻿Date de début;valeur\n2025/03/07 00:00:00;10.0\n".encode()
        body, ctype = _multipart(
            {"polluant-01_2025-03-07.csv": csv, "notes.txt": b"junk"}
        )
        status, out = _post(f"http://127.0.0.1:{port}/ingest", body, ctype)
        assert status == 200
        assert out["stored"] == ["polluant-01_2025-03-07.csv"]
        assert out["skipped"] == ["notes.txt"]  # P8 filename filter
        assert (tmp_path / "landing" / "polluant-01_2025-03-07.csv").read_bytes() == csv

        status, out = _post(f"http://127.0.0.1:{port}/ingest/fast", body, ctype)
        assert status == 200
        import time

        for _ in range(50):
            if len(triggered) >= 2:
                break
            time.sleep(0.05)
        assert sorted(triggered) == ["fast", "regular"]

        status, out = _post(f"http://127.0.0.1:{port}/ingest/csv", body, ctype)
        assert status == 200
        assert out["parsed"] == {"polluant-01_2025-03-07.csv": 1}

        status, out = _post(
            f"http://127.0.0.1:{port}/ingest/blob",
            json.dumps([{"b": 1}, {"b": 2}]).encode(),
            "application/json",
        )
        assert status == 200 and out["accepted"] == 2
    finally:
        server.shutdown()


def test_salted_join_rejects_outer(spark):
    import pytest

    from datalakes_and_data_integration_spark.operators.skew import salted_join

    fact = spark.createDataFrame([(1, "a")], ["k", "x"])
    dim = spark.createDataFrame([(1, "d")], ["k", "y"])
    for how in ("right", "full", "outer", "full_outer"):
        with pytest.raises(ValueError):
            salted_join(fact, dim, on="k", how=how)
    # inner and left still work and do not duplicate
    assert salted_join(fact, dim, on="k", how="inner").count() == 1
    assert salted_join(fact, dim, on="k", how="left").count() == 1


def test_ingest_api_rejects_oversized_body(tmp_path, monkeypatch):
    import urllib.error

    from datalakes_and_data_integration_spark.sources.ingest_api import (
        IngestHandler,
    )

    monkeypatch.setattr(IngestHandler, "max_body_bytes", 1024)
    server = serve(str(tmp_path / "landing"))
    port = server.server_address[1]
    try:
        body, ctype = _multipart(
            {"polluant-01_2025-03-07.csv": b"x" * 4096}
        )
        try:
            _post(f"http://127.0.0.1:{port}/ingest", body, ctype)
            raise AssertionError("expected HTTP 413")
        except urllib.error.HTTPError as e:
            assert e.code == 413
        # Under-cap requests still work after a rejected one.
        small, ctype2 = _multipart({"polluant-01_2025-03-07.csv": b"a;b\n1;2\n"})
        status, out = _post(f"http://127.0.0.1:{port}/ingest", small, ctype2)
        assert status == 200
    finally:
        server.shutdown()
