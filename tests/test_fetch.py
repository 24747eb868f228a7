"""S3 distributed fetch: file:// transport end-to-end (the http(s) path
rides the same urllib handler chain — documented untestable seam)."""

import hashlib
import os

import pyspark.sql.functions as F

from gips_spark.sources import fetch


def _mk_sources(tmp_path, n=6):
    src = tmp_path / "remote"
    src.mkdir()
    rows = []
    for i in range(n):
        p = src / f"asset_{i}.bin"
        payload = (f"payload-{i}-" * (i + 1)).encode()
        p.write_bytes(payload)
        rows.append(
            (
                f"A{i}",
                p.as_uri(),
                f"asset_{i}.bin",
                hashlib.sha256(payload).hexdigest(),
            )
        )
    return rows


def test_fetch_archive_idempotent_and_errors(spark, tmp_path):
    rows = _mk_sources(tmp_path)
    # row 6: missing source → error after max_attempts
    rows.append(
        ("A9", (tmp_path / "remote" / "nope.bin").as_uri(), "nope.bin",
         "0" * 64)
    )
    # row 7: wrong checksum → checksum_mismatch, dest NOT archived
    bad_src = tmp_path / "remote" / "asset_0.bin"
    rows.append(("A8", bad_src.as_uri(), "bad.bin", "f" * 64))
    manifest = spark.createDataFrame(
        rows, "asset_id string, url string, dest_name string, expected_sha256 string"
    )
    arch = str(tmp_path / "archive")

    st = {
        r["asset_id"]: r
        for r in fetch.fetch_assets(
            manifest, arch, max_attempts=2, backoff_base_s=0.01
        ).collect()
    }
    for i in range(6):
        r = st[f"A{i}"]
        assert r["status"] == "fetched" and r["attempts"] == 1
        assert open(r["dest_path"], "rb").read() == (f"payload-{i}-" * (i + 1)).encode()
        assert r["sha256"] == hashlib.sha256(open(r["dest_path"], "rb").read()).hexdigest()
    assert st["A9"]["status"] == "error" and st["A9"]["attempts"] == 2
    assert "Error" in st["A9"]["error"] or "error" in st["A9"]["error"].lower()
    assert st["A8"]["status"] == "checksum_mismatch"
    assert not os.path.exists(st["A8"]["dest_path"])  # bad payload never archived
    # r6: a mismatch is a failed ATTEMPT — all max_attempts are used
    # before the checksum_mismatch verdict is emitted (ADVICE r5)
    assert st["A8"]["attempts"] == 2

    # re-run: everything already archived+verified → skipped, bytes intact
    st2 = {
        r["asset_id"]: r
        for r in fetch.fetch_assets(
            manifest, arch, max_attempts=2, backoff_base_s=0.01
        ).collect()
    }
    for i in range(6):
        assert st2[f"A{i}"]["status"] == "skipped"
        assert st2[f"A{i}"]["sha256"] == st[f"A{i}"]["sha256"]


def test_fetch_without_checksums_and_host_partitioning(spark, tmp_path):
    rows = [r[:3] for r in _mk_sources(tmp_path, 4)]
    manifest = spark.createDataFrame(
        rows, "asset_id string, url string, dest_name string"
    )
    arch = str(tmp_path / "arch2")
    st = fetch.fetch_assets(manifest, arch).collect()
    assert sorted(r["status"] for r in st) == ["fetched"] * 4

    # repartition_by_host stays a JVM hash exchange (no Python stage)
    plan = fetch.repartition_by_host(manifest, 4)._jdf.queryExecution().executedPlan().toString()
    assert "ParseUrl" in plan and "EvalPython" not in plan


def test_fetch_row_reports_last_attempt_only(spark, tmp_path):
    """A checksum mismatch followed by an exception must leave an
    `error` row with none of the mismatched attempt's bytes/sha256."""
    import http.server
    import threading

    hits = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            hits.append(self.path)
            if len(hits) == 1:
                body = b"wrong payload"
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
            else:
                self.send_error(500)

        def log_message(self, *args):
            pass

    server = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{server.server_address[1]}/asset.bin"
        manifest = spark.createDataFrame(
            [("A1", url, "asset.bin", "0" * 64)],
            "asset_id string, url string, dest_name string, expected_sha256 string",
        )
        (r,) = fetch.fetch_assets(
            manifest, str(tmp_path / "archive"), max_attempts=2, backoff_base_s=0.01
        ).collect()
    finally:
        server.shutdown()
        server.server_close()
    assert len(hits) == 2
    assert r["status"] == "error" and r["attempts"] == 2
    assert r["bytes"] == 0 and r["sha256"] is None
    assert "500" in r["error"]
    assert not os.path.exists(r["dest_path"])
