"""Synthetic dump-record fixtures mirroring the reference's generator
(docker/s3-init/sample_data.py variants, pinned by the integration golden
manifest — see FIXTURES.md §1). One row per variant per collection."""

from __future__ import annotations

import base64
import gzip
import json
import os


def base_record(k: int = 0, millis: int = 0) -> dict:
    return {
        "_id": {"someId": f"GUID-{k}", "declarationId": f"database-1.collection-1.0001-{k}"},
        "type": "addressDeclaration",
        "contractId": f"contract-{k}",
        "addressNumber": {"type": "AddressLine", "cryptoId": f"crypto-{k}"},
        "townCity": {"type": "AddressLine", "cryptoId": f"crypto2-{k}"},
        "postcode": "SM5 2LE",
        "processId": f"process-{k}",
        "effectiveDate": {"type": "SPECIFIC_EFFECTIVE_DATE", "date": 20150320, "knownDate": 20150320},
        "paymentEffectiveDate": {"type": "SPECIFIC_EFFECTIVE_DATE", "date": 20150320, "knownDate": 20150320},
        "createdDateTime": {"$date": "2015-03-20T12:23:25.183Z"},
        "_version": 2,
        "nullField": None,
        "_lastModifiedDateTime": {"$date": f"2018-12-01T15:01:02.{millis:03d}Z"},
    }


def variant_lines() -> list[tuple[str, str]]:
    """(variant, json_line) — the FIXTURES.md §1 matrix."""
    out: list[tuple[str, str]] = []
    for k in range(3):
        out.append(("base", json.dumps(base_record(k, k))))

    r = base_record(10)
    r["_id"] = {"$oid": "5e9a0c7c8f0b4a0b9c1d2e3f"}
    out.append(("mongo_oid_id", json.dumps(r)))

    r = base_record(11)
    r["_id"] = {
        "someId": "GUID-11",
        "createdDateTime": {"$date": "2010-01-01T00:00:00.000Z"},
    }
    out.append(("id_with_inner_date", json.dumps(r)))

    inner = base_record(12)
    out.append(
        (
            "removed",
            json.dumps(
                {
                    "_removed": inner,
                    "_removedDateTime": {"$date": "2012-03-04T21:43:56.000Z"},
                    "_lastModifiedDateTime": {"$date": "2018-12-01T15:01:02.000Z"},
                    "timestamp": 1330897436000,
                }
            ),
        )
    )

    inner = base_record(13)
    out.append(
        (
            "archived",
            json.dumps(
                {
                    "_archived": inner,
                    "_archivedDateTime": {"$date": "2014-03-02T12:34:56.000Z"},
                    "_lastModifiedDateTime": {"$date": "2018-12-01T15:01:02.000Z"},
                    "timestamp": 1393763696000,
                }
            ),
        )
    )

    r = base_record(14)
    del r["_id"]
    out.append(("no_id", json.dumps(r)))

    r = base_record(15)
    del r["_lastModifiedDateTime"]
    out.append(("no_last_modified", json.dumps(r)))

    r = base_record(16)
    del r["_lastModifiedDateTime"]
    del r["createdDateTime"]
    out.append(("no_timestamps", json.dumps(r)))

    r = base_record(17)
    r["_lastModifiedDateTime"] = {"$date": "2000-01-01T12:34:56.000Z"}
    out.append(("too_early", json.dumps(r)))

    r = base_record(18)
    r["_lastModifiedDateTime"] = {"$date": "2020-06-29T12:34:56.000Z"}
    out.append(("too_late", json.dumps(r)))

    out.append(("malformed", json.dumps(base_record(19))[:40]))
    return out


# docker-compose.yml:99-101 filter bounds
SKIP_EARLIER_THAN = "2000-01-02T12:34:56.000Z"
SKIP_LATER_THAN = "2020-06-28T12:34:56.000Z"


def write_dump_file(path: str) -> int:
    lines = [line for _, line in variant_lines()]
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    return len(lines)


def write_encrypted_dump(directory: str, stem: str, lines: list[str], key: bytes) -> None:
    """``<stem>.json.gz.enc`` (AES-CTR over gzipped JSONL, fresh IV) plus
    its sidecar, wrapped-key pair ("kek", "E")."""
    from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

    iv = os.urandom(16)
    enc = Cipher(algorithms.AES(key), modes.CTR(iv)).encryptor()
    payload = enc.update(gzip.compress(("\n".join(lines) + "\n").encode())) + enc.finalize()
    with open(os.path.join(directory, f"{stem}.json.gz.enc"), "wb") as fh:
        fh.write(payload)
    with open(os.path.join(directory, f"{stem}.json.encryption.json"), "w") as fh:
        json.dump({
            "keyEncryptionKeyId": "kek", "encryptedEncryptionKey": "E",
            "initialisationVector": base64.b64encode(iv).decode(),
        }, fh)
