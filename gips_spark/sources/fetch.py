"""S3 — distributed asset fetch (the reference's download driver).

Reference parity: `gips/data/core.py :: Asset.fetch` [SPEC] — each
asset class carries URL patterns; fetch downloads into a staging path,
verifies, and hands off to the archive.  SURVEY §7.3 scoped out real
NETWORK drivers (this sandbox has none); what ships here is the whole
distributed-fetch machinery with a pluggable transport: `file://` URLs
exercise every line in-sandbox, and `http(s)://`/`ftp://` ride the same
`urllib.request` handler chain on a real cluster (code path identical,
untestable here — documented seam, like the multimodal foreign codecs).

Execution shape (100-TB-manifest-safe):
* input is a MANIFEST DataFrame (asset_id, url, dest_name[, expected_sha256])
  — never a driver-side list; the kernel is `mapInPandas`, so a
  10^9-row manifest streams through executors in Arrow batches;
* per-host politeness: `repartition_by_host` hashes `parse_url(url,
  'HOST')` (JVM expression) so one task owns a host's URLs and the
  kernel's `min_interval_s` pacing bounds per-host request rate;
* idempotent archive: writes go temp → `os.replace` (atomic on POSIX),
  and an existing destination with a matching sha256 short-circuits to
  `skipped` — safe re-runs after partial failure, the same
  delete-and-resume contract as plans/lineage.py;
* bounded retries with exponential backoff + deterministic per-attempt
  jitter (hash of url+attempt — no Math.random, reproducible);
* NO raw bytes ever enter the DataFrame: payloads go disk-direct in
  chunks (constant memory per task); only status rows come back.

Every outcome is a ROW, not an exception: (fetched | skipped |
checksum_mismatch | error) with attempts/bytes/sha256/error detail, so
a fetch job can join statuses against lineage and re-drive failures.
"""

from __future__ import annotations

import hashlib
import os
import time
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FETCH_STATUS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("dest_path", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("attempts", T.IntegerType()),
        T.StructField("bytes", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)

_CHUNK = 1 << 20


def _sha256_file(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        while True:
            b = f.read(_CHUNK)
            if not b:
                break
            h.update(b)
    return h.hexdigest()


def _backoff_s(url: str, attempt: int, base: float) -> float:
    """Exponential backoff with DETERMINISTIC jitter: the jitter term is
    a hash of (url, attempt), so retries are reproducible and spread."""
    j = int(hashlib.sha256(f"{url}#{attempt}".encode()).hexdigest()[:8], 16)
    return base * (2**attempt) * (1.0 + (j % 1000) / 2000.0)


def fetch_assets(
    manifest: DataFrame,
    archive_dir: str,
    max_attempts: int = 3,
    backoff_base_s: float = 0.05,
    min_interval_s: float = 0.0,
    timeout_s: float = 30.0,
) -> DataFrame:
    """manifest (asset_id, url, dest_name[, expected_sha256]) → status
    DataFrame (FETCH_STATUS_SCHEMA).  See module docstring for the
    idempotency / retry / politeness contract."""
    has_sha = "expected_sha256" in manifest.columns
    cols = ["asset_id", "url", "dest_name"] + (
        ["expected_sha256"] if has_sha else []
    )
    src = manifest.select(*cols)

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import urllib.request

        os.makedirs(archive_dir, exist_ok=True)
        last_req = [0.0]

        def fetch_one(url: str, dest: str) -> int:
            if min_interval_s > 0:
                wait = last_req[0] + min_interval_s - time.monotonic()
                if wait > 0:
                    time.sleep(wait)
            last_req[0] = time.monotonic()
            tmp = dest + ".part"
            n = 0
            with urllib.request.urlopen(url, timeout=timeout_s) as r, open(
                tmp, "wb"
            ) as f:
                while True:
                    b = r.read(_CHUNK)
                    if not b:
                        break
                    f.write(b)
                    n += len(b)
            os.replace(tmp, dest)  # atomic publish
            return n

        for pdf in it:
            out = []
            for r in pdf.itertuples(index=False):
                url = str(r.url)
                dest = os.path.join(archive_dir, str(r.dest_name))
                want = (
                    str(r.expected_sha256)
                    if has_sha and r.expected_sha256 is not None
                    else None
                )
                row = {
                    "asset_id": str(r.asset_id),
                    "url": url,
                    "dest_path": dest,
                    "status": "error",
                    "attempts": 0,
                    "bytes": 0,
                    "sha256": None,
                    "error": None,
                }
                if os.path.exists(dest) and (
                    want is None or _sha256_file(dest) == want
                ):
                    row.update(
                        status="skipped",
                        bytes=os.path.getsize(dest),
                        sha256=_sha256_file(dest),
                    )
                    out.append(row)
                    continue
                for attempt in range(max_attempts):
                    # the row reports the LAST attempt only: nothing of an
                    # earlier attempt (a mismatch's bytes/sha256) survives
                    row.update(
                        attempts=attempt + 1,
                        status="error",
                        bytes=0,
                        sha256=None,
                        error=None,
                    )
                    try:
                        n = fetch_one(url, dest)
                        got = _sha256_file(dest)
                        if want is not None and got != want:
                            os.remove(dest)  # never archive a bad payload
                            row.update(
                                status="checksum_mismatch",
                                bytes=n,
                                sha256=got,
                                error=f"expected {want}",
                            )
                            # a mismatch counts as a FAILED ATTEMPT, not
                            # a terminal verdict: transient truncation is
                            # the common cause, so keep retrying until
                            # max_attempts (ADVICE r5 — the bounded-
                            # retries contract)
                            if attempt + 1 < max_attempts:
                                time.sleep(
                                    _backoff_s(url, attempt, backoff_base_s)
                                )
                            continue
                        row.update(status="fetched", bytes=n, sha256=got, error=None)
                        break
                    except Exception as e:  # noqa: BLE001 — every failure → row
                        row["error"] = f"{type(e).__name__}: {e}"[:500]
                        if attempt + 1 < max_attempts:
                            time.sleep(_backoff_s(url, attempt, backoff_base_s))
                out.append(row)
            yield pd.DataFrame(out, columns=[f.name for f in FETCH_STATUS_SCHEMA.fields])

    return src.mapInPandas(kernel, schema=FETCH_STATUS_SCHEMA)


def repartition_by_host(manifest: DataFrame, n_partitions: int) -> DataFrame:
    """Co-locate each host's URLs in one task so `min_interval_s` bounds
    the PER-HOST request rate (JVM parse_url, one hash exchange)."""
    return manifest.repartition(
        n_partitions, F.parse_url(F.col("url"), F.lit("HOST"))
    )
