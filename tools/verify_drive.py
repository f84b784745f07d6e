"""Consumer-side verify drive: fixture -> sources -> pipeline -> sinks,
run from OUTSIDE the repo (PYTHONPATH=/root/repo)."""
import base64, gzip, json, os, shutil, sys, tempfile

from pyspark.sql import SparkSession, functions as F
from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

root = tempfile.mkdtemp(prefix="hdi_drive_")
src = os.path.join(root, "objects"); os.makedirs(src)

def rec(i, ver, millis, _id=None):
    return json.dumps({
        "_id": _id or {"someId": f"GUID-{i}"},
        "type": "addressDeclaration",
        "_version": ver,
        "payload": f"data-{i}-{ver}",
        "_lastModifiedDateTime": {"$date": f"2018-12-01T15:01:02.{millis:03d}Z"},
    })

lines = [
    rec(1, 1, 100), rec(1, 2, 200),            # two versions, same id
    rec(2, 1, 300),
    '{"broken json',                            # malformed -> counted, not sunk
    json.dumps({"_id": "", "_version": 1,
                "_lastModifiedDateTime": {"$date": "2018-12-01T15:01:02.000Z"}}),  # blank id
    rec(3, 1, 400, _id={"$oid": "5e9a0c7c8f0b4a0b9c1d2e3f"}),
]
key = os.urandom(32); iv = os.urandom(16)
enc = Cipher(algorithms.AES(key), modes.CTR(iv)).encryptor()
payload = enc.update(gzip.compress(("\n".join(lines) + "\n").encode())) + enc.finalize()
stem = "database-1.collection-1.0001"
open(os.path.join(src, f"{stem}.json.gz.enc"), "wb").write(payload)
json.dump({"keyEncryptionKeyId": "cloudhsm:1,2",
           "encryptedEncryptionKey": "RU5DS0VZ",
           "initialisationVector": base64.b64encode(iv).decode()},
          open(os.path.join(src, f"{stem}.json.encryption.json"), "w"))

spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false").getOrCreate())

from uc_historic_data_importer_spark.sources import listing as L, metadata as M
from uc_historic_data_importer_spark.sources.crypto_source import read_encrypted_jsonl
from uc_historic_data_importer_spark.plans import pipeline as P
from uc_historic_data_importer_spark import sinks
from uc_historic_data_importer_spark.operators.latest import latest_per_key_window
from uc_historic_data_importer_spark.hfile import read_hfile

pairs = M.parse_metadata(
    L.drop_zero_byte_pairs(L.pair_files(L.list_local_objects(spark, src))))
keys = M.resolve_data_keys(
    pairs, M.DummyKeyService({"RU5DS0VZ": base64.b64encode(key).decode()}))
recs = read_encrypted_jsonl(pairs, keys)

data_key = os.urandom(32)
cfg = P.PipelineConfig(encrypt=True,
                       data_key_b64=base64.b64encode(data_key).decode(),
                       key_encryption_key_id="cloudhsm:1,2",
                       encrypted_encryption_key="RU5DS0VZ")
kv_path = os.path.join(root, "kv"); mdir = os.path.join(root, "manifest")
result = P.run(spark, recs, cfg, kv_path=kv_path, manifest_dir=mdir)

crow = result.counts.collect()[0].asDict()
print("counts:", crow)
assert crow["parse_errors"] == 1, crow
assert crow["blank_ids"] == 1, crow
assert crow["put_count"] == 4, crow

kv = spark.read.parquet(kv_path)
n_kv = kv.count()
print("kv rows:", n_kv)
assert n_kv == 4, n_kv  # 2 versions of id1 + id2 + oid3

# decrypt one cell's dbObject with the batch data key + per-record IV
row = kv.filter(F.col("version") == F.lit(kv.agg(F.max("version")).collect()[0][0])).limit(1).collect()[0]
env = json.loads(row["body"])
msg = env["message"]
civ = base64.b64decode(msg["encryption"]["initialisationVector"])
ct = base64.b64decode(msg["dbObject"])
dec = Cipher(algorithms.AES(data_key), modes.CTR(civ)).decryptor()
plain = dec.update(ct) + dec.finalize()
body = json.loads(plain)
assert body["payload"].startswith("data-"), body
print("cell decrypt round-trip OK:", body["payload"])

# latest_per_key collapses the two versions of GUID-1
latest = latest_per_key_window(kv.withColumnRenamed("body", "envelope"))
assert latest.count() == 3, latest.count()
print("latest_per_key collapsed to", 3)

# manifest CSV present, pipe-separated
mfiles = [f for f in os.listdir(mdir) if f.endswith(".csv")]
assert mfiles, os.listdir(mdir)
first = open(os.path.join(mdir, mfiles[0])).readline().strip()
assert first.count("|") >= 3, first
print("manifest line:", first[:90])

# GZ HFile bulk-load path end to end. Build the layout from the KV
# READ-BACK, not result.putable: run() releases its cache on return
# (r8 leak fix), so re-executing putable would re-run the encrypt UDF
# and mint FRESH per-record IVs — HFiles that disagree cell-for-cell
# with the kv parquet the same run wrote. The store is the source of
# truth for bulk-load artifacts derived after the run.
layout = sinks.hbase_bulkload_layout(
    kv.select("table", "key", "key_hex", "version",
              F.col("body").alias("envelope")),
    n_regions=2)
hdir = os.path.join(root, "hfiles")
paths = sinks.write_hfiles(layout, hdir)  # GZ default
total = 0
for p in paths:
    parsed = read_hfile(p)
    assert parsed.compression_codec == 1, (p, parsed.compression_codec)
    total += parsed.entry_count
assert total == 4, total
print("GZ hfiles verified:", len(paths), "files,", total, "cells")

# probe: orphan data file (no sidecar) -> MissingMetadataError
orphan = os.path.join(root, "orphan"); os.makedirs(orphan)
open(os.path.join(orphan, "db.c.0001.json.gz.enc"), "wb").write(b"x")
try:
    L.pair_files(L.list_local_objects(spark, orphan)).collect()
    raise SystemExit("orphan not detected")
except Exception as e:
    assert "Metadata" in type(e).__name__ or "metadata" in str(e).lower(), e
    print("orphan probe OK:", type(e).__name__)

# probe: re-run with existing snapshot -> 0 new puts
rerun = P.run(spark, recs, cfg, existing=kv.select("table", "key_hex", "version"))
assert rerun.putable.count() == 0, rerun.putable.count()
print("existing-snapshot re-run: 0 new puts OK")

# driver contract
sys.path.insert(0, "/root/repo")
import importlib.util
spec = importlib.util.spec_from_file_location("entry_mod", "/root/repo/__spark_entry__.py")
em = importlib.util.module_from_spec(spec); spec.loader.exec_module(em)
edf = em.entry(spark)
n = edf.count()
print("entry() rows:", n, "schema:", edf.schema.simpleString())
assert n >= 0
shutil.rmtree(root, ignore_errors=True)
print("VERIFY DRIVE: ALL OK")
