"""Seeded inputs for the benchmark.

Job fixtures are encrypted Mongo dump pairs as the importer reads them:
``<db>.<collection>.<NNNN>.json.gz.enc`` (AES-CTR over gzip(JSONL), a
fresh key and IV per file) plus the ``.json.encryption.json`` sidecar
carrying ``plaintextDatakey`` for the test key service. Records follow
the FIXTURES.md section 1 variant mix, plus one date-error variant, and
every record carries an id that is unique across the fixture.

The expected F5 totals are derived from what was written, never by
running the program: each variant has a known outcome under the
benchmark's fixed time bounds.

Catalog fixtures are the ten parquet tables the catalog queries read
(TPC-H-ish star schema, ``events``, ``documents``, ``embeddings``), with
the testdata schemas and value domains, drawn from the seed.
"""

from __future__ import annotations

import base64
import gzip
import json
import os
import zlib
from dataclasses import dataclass
from datetime import datetime, timezone

import numpy as np

# docker-compose.yml:99-101 filter bounds, as in the integration fixtures
SKIP_EARLIER_THAN = "2000-01-02T12:34:56.000Z"
SKIP_LATER_THAN = "2020-06-28T12:34:56.000Z"

KEY_ENCRYPTION_KEY_ID = "cloudhsm:1,2"
# what the envelope records as the wrapped batch key under encrypt=True
WRAPPED_BATCH_KEY = base64.b64encode(b"wrapped-batch-key").decode()

# variant -> (weight, outcome). Outcomes: a skip reason counted by F5,
# or the filter status a valid record gets under the bounds above.
VARIANTS = {
    "base": (10, "put"),
    "mongo_oid_id": (1, "put"),
    "id_with_inner_date": (1, "put"),
    "removed": (1, "put"),
    "archived": (1, "put"),
    "no_last_modified": (1, "put"),
    "no_timestamps": (1, "put"),  # 1980 epoch is exempt from too-early
    "too_early": (1, "too_early"),
    "too_late": (1, "too_late"),
    "no_id": (1, "blank_id"),
    "malformed": (1, "parse_error"),
    "bad_date": (1, "date_error"),
}
_NAMES = list(VARIANTS)
_WEIGHTS = np.array([w for w, _ in VARIANTS.values()], dtype=float)
_WEIGHTS /= _WEIGHTS.sum()

COUNT_FIELDS = (
    "records_total",
    "parse_errors",
    "date_errors",
    "blank_ids",
    "put_count",
    "filtered_too_early",
    "filtered_too_late",
    "filtered_exists",
)
_OUTCOME_FIELD = {
    "parse_error": "parse_errors",
    "date_error": "date_errors",
    "blank_id": "blank_ids",
    "too_early": "filtered_too_early",
    "too_late": "filtered_too_late",
}

DBS = ("database-1", "database-2")
COLLECTIONS = ("collection-1", "agentToDoArchive", "addresses")


def _millis(ts: str) -> int:
    dt = datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return int(dt.timestamp() * 1000)


def _canonical(obj) -> str:
    return json.dumps(obj, sort_keys=True, separators=(",", ":"))


# versions of the variants whose version does not come from
# _lastModifiedDateTime (MessageUtils.kt:43-61 selection)
_FIXED_VERSION = {
    "removed": _millis("2012-03-04T21:43:56.000Z"),
    "archived": _millis("2014-03-02T12:34:56.000Z"),
    "no_last_modified": _millis("2015-03-20T12:23:25.183Z"),
    "no_timestamps": 315532800000,  # the 1980 epoch fallback
}


def _record(variant: str, uid: str, ms: int) -> tuple[str, tuple[str, int]]:
    """One dump line of the given variant (templates from
    tests/fixtures.py / sample_data.py:64-228), with the canonical id and
    version millis an import gives a valid record of it."""
    lm = f"2018-{1 + ms % 12:02d}-{1 + ms % 28:02d}T15:01:02.{ms % 1000:03d}Z"
    canonical = _canonical({"someId": uid, "declarationId": f"decl-{uid}"})
    version = _FIXED_VERSION.get(variant) or _millis(lm)
    rec = {
        "_id": {"someId": uid, "declarationId": f"decl-{uid}"},
        "type": "addressDeclaration",
        "contractId": f"contract-{uid}",
        "addressNumber": {"type": "AddressLine", "cryptoId": f"crypto-{uid}"},
        "townCity": {"type": "AddressLine", "cryptoId": f"crypto2-{uid}"},
        "postcode": "SM5 2LE",
        "processId": f"process-{uid}",
        "effectiveDate": {"type": "SPECIFIC_EFFECTIVE_DATE", "date": 20150320, "knownDate": 20150320},
        "paymentEffectiveDate": {"type": "SPECIFIC_EFFECTIVE_DATE", "date": 20150320, "knownDate": 20150320},
        "createdDateTime": {"$date": "2015-03-20T12:23:25.183Z"},
        "_version": 2,
        "nullField": None,
        "_lastModifiedDateTime": {"$date": lm},
    }
    if variant == "mongo_oid_id":
        rec["_id"] = {"$oid": uid}
        canonical = _canonical({"id": uid})  # flattened to a string id
    elif variant == "id_with_inner_date":
        rec["_id"] = {"someId": uid, "createdDateTime": {"$date": "2010-01-01T00:00:00.000Z"}}
        canonical = _canonical({"someId": uid, "createdDateTime": "2010-01-01T00:00:00.000+0000"})
    elif variant in ("removed", "archived"):
        when = "2012-03-04T21:43:56.000Z" if variant == "removed" else "2014-03-02T12:34:56.000Z"
        rec = {
            f"_{variant}": rec,
            f"_{variant}DateTime": {"$date": when},
            "_lastModifiedDateTime": {"$date": lm},
        }
    elif variant == "no_last_modified":
        del rec["_lastModifiedDateTime"]
    elif variant == "no_timestamps":
        del rec["_lastModifiedDateTime"], rec["createdDateTime"]
    elif variant == "too_early":
        rec["_lastModifiedDateTime"] = {"$date": "2000-01-01T12:34:56.000Z"}
    elif variant == "too_late":
        rec["_lastModifiedDateTime"] = {"$date": "2020-06-29T12:34:56.000Z"}
    elif variant == "no_id":
        del rec["_id"]
    elif variant == "bad_date":
        rec["createdDateTime"] = {"$date": "not-a-date"}
    line = json.dumps(rec, separators=(",", ":"))
    return (line[:40] if variant == "malformed" else line), (canonical, version)


def _key_hex(canonical: str) -> str:
    """K2 row key: CRC32 (4 bytes, big-endian) || utf-8 canonical id."""
    raw = canonical.encode()
    return (zlib.crc32(raw).to_bytes(4, "big") + raw).hex()


def _table(db: str, collection: str) -> str:
    # no fixture collection carries a split suffix or the archive mapping
    return f"{db}:{collection}".replace("-", "_")


@dataclass
class DumpFixture:
    root: str  # directory holding the .json.gz.enc / sidecar pairs
    n_files: int
    n_records: int
    encrypted_mb: float
    expected: dict[str, int]  # F5 totals when no snapshot is applied
    snapshot_put: int  # puts that fall in the snapshot files
    files_with_valid: int
    valid_records: int
    plaintext_keys: dict[str, str]  # encryptedEncryptionKey -> data key
    snapshot: str  # parquet (table, key_hex, version) of every other file's puts

    def expected_totals(self, with_snapshot: bool) -> dict[str, int]:
        out = dict(self.expected)
        if with_snapshot:
            out["put_count"] -= self.snapshot_put
            out["filtered_exists"] = self.snapshot_put
        return out


def _encrypt(plain: bytes, key: bytes, iv: bytes) -> bytes:
    from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

    enc = Cipher(algorithms.AES(key), modes.CTR(iv)).encryptor()
    return enc.update(plain) + enc.finalize()


def write_dumps(root: str, seed: int, n_files: int, records_per_file: int) -> DumpFixture:
    """Write ``n_files`` encrypted dump pairs under ``root``, and next to
    it the KV snapshot a previous import of every other file (odd index)
    left behind, for the re-import workload."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    totals = dict.fromkeys(COUNT_FIELDS, 0)
    snapshot_put = files_with_valid = valid = 0
    enc_bytes = 0
    keys: dict[str, str] = {}
    snap: dict[str, list] = {"table": [], "key_hex": [], "version": []}
    for i in range(n_files):
        db = DBS[i % len(DBS)]
        coll = COLLECTIONS[(i // len(DBS)) % len(COLLECTIONS)]
        stem = f"{db}.{coll}.{i + 1:04d}.json"
        variants = rng.choice(len(_NAMES), size=records_per_file, p=_WEIGHTS)
        millis = rng.integers(0, 2**31, size=records_per_file)
        tag = rng.integers(0, 2**32)
        lines = []
        file_put = file_valid = 0
        for j, (v, ms) in enumerate(zip(variants.tolist(), millis.tolist())):
            name = _NAMES[v]
            uid = f"{tag:08x}{i:04x}{j:06x}{ms % 0xFFFFFF:06x}"
            line, (canonical, version) = _record(name, uid, ms)
            lines.append(line)
            outcome = VARIANTS[name][1]
            if outcome in ("put", "too_early", "too_late"):
                file_valid += 1
            if outcome != "put":
                totals[_OUTCOME_FIELD[outcome]] += 1
                continue
            file_put += 1
            if i % 2 == 1:
                snap["table"].append(_table(db, coll))
                snap["key_hex"].append(_key_hex(canonical))
                snap["version"].append(version)
        totals["records_total"] += records_per_file
        totals["put_count"] += file_put
        valid += file_valid
        files_with_valid += file_valid > 0
        key, iv = rng.bytes(32), rng.bytes(16)
        payload = _encrypt(gzip.compress(("\n".join(lines) + "\n").encode(), 6), key, iv)
        enc_key = base64.b64encode(f"wrapped-{seed}-{i}".encode()).decode()
        keys[enc_key] = base64.b64encode(key).decode()
        data_path = os.path.join(root, f"{stem}.gz.enc")
        with open(data_path, "wb") as fh:
            fh.write(payload)
        with open(os.path.join(root, f"{stem}.encryption.json"), "w") as fh:
            json.dump(
                {
                    "keyEncryptionKeyId": KEY_ENCRYPTION_KEY_ID,
                    "encryptedEncryptionKey": enc_key,
                    "initialisationVector": base64.b64encode(iv).decode(),
                    "plaintextDatakey": keys[enc_key],
                },
                fh,
            )
        enc_bytes += len(payload)
        if i % 2 == 1:
            snapshot_put += file_put
    snapshot = os.path.abspath(root) + ".snapshot.parquet"
    pq.write_table(
        pa.table({**snap, "version": pa.array(snap["version"], pa.int64())}), snapshot
    )
    return DumpFixture(
        root=os.path.abspath(root),
        n_files=n_files,
        n_records=n_files * records_per_file,
        encrypted_mb=enc_bytes / 2**20,
        expected=totals,
        snapshot_put=snapshot_put,
        files_with_valid=files_with_valid,
        valid_records=valid,
        plaintext_keys=keys,
        snapshot=snapshot,
    )


# ---------------------------------------------------------------------------
# catalog tables
# ---------------------------------------------------------------------------

_WORDS = (
    "a the data spark stream batch table row column key value query filter "
    "group sort join hash merge scan window agg order part line customer "
    "vector fast slow big small"
).split()
_LANGS = ("en", "de", "fr", "es", "zh")
_EVENT_TYPES = ("signup", "click", "error", "view", "purchase")


def write_catalog_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the catalog tables at scale factor ``sf`` (0.1 = 600k
    lineitem rows, like the sf0.1 testdata). Returns rows per table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec, n_users = int(50_000 * sf), int(20_000 * sf), int(15_000 * sf)
    day_us = 86_400 * 10**6
    d0 = np.datetime64("1992-01-01", "us").astype(np.int64)
    e0 = np.datetime64("2024-01-01", "us").astype(np.int64)

    def ts(us: np.ndarray) -> pa.Array:
        return pa.array(us.astype("datetime64[us]"))

    def money(n: int, lo: float, hi: float) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": money(n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ).tolist(),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": money(n_supp, -999.99, 9999.99),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(
                    rng.choice(["large", "hot", "blue", "green", "small"], n_part),
                    rng.choice(["ring", "bolt", "nut", "gear", "pin"], n_part),
                )
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(["LARGE", "SMALL", "ECONOMY", "STANDARD", "PROMO"], n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["O", "F", "P"], n_ord).tolist(),
            "o_totalprice": money(n_ord, 1000.0, 500_000.0),
            "o_orderdate": ts(d0 + rng.integers(0, 3650, n_ord) * day_us),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
            ).tolist(),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            # whole prices and 1/32 discounts: every price * (1 - discount)
            # is exact in binary, so revenue sums do not depend on the
            # summation order and round to 2 dp the same in Spark and DuckDB
            "l_extendedprice": rng.integers(900, 105_000, n_li).astype(np.float64),
            "l_discount": rng.integers(0, 4, n_li) / 32,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
            "l_linestatus": rng.choice(["O", "F"], n_li).tolist(),
            "l_shipdate": ts(d0 + rng.integers(0, 3650, n_li) * day_us),
        },
        "events": {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts(np.sort(e0 + rng.integers(0, 30 * day_us, n_ev))),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(_EVENT_TYPES, n_ev).tolist(),
            "value": money(n_ev, 0.0, 200.0),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_vec),
    }
    rows = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Word-salad documents over a small vocabulary; about one in ten
    copies an earlier document with a few words changed, so the dedup
    and decontamination queries find near-duplicate pairs."""
    texts: list[str] = []
    for k in range(n):
        if k > 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, k))].split()
            for _ in range(int(rng.integers(0, 3))):
                words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[w] for w in rng.integers(0, len(_WORDS), int(rng.integers(10, 90)))]
        texts.append(" ".join(words))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=[0.6, 0.1, 0.1, 0.1, 0.1]).tolist(),
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, labels: int = 10) -> dict:
    """Unit-scale vectors around ``labels`` cluster centres."""
    import pyarrow as pa

    centres = rng.normal(0.0, 0.15, (labels, dim))
    label = rng.integers(0, labels, n)
    vecs = (centres[label] + rng.normal(0.0, 0.05, (n, dim))).astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    }
