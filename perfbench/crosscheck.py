#!/usr/bin/env python3
"""Cross-check the catalog fingerprint goldens against DuckDB.

    python3 perfbench/crosscheck.py

Run from the repository root after one `perfbench/run.py` run has built the
harness. It runs `graft.Verify`, which writes every catalog query's result
and `SparkEntry.oracleSql` for the benchmark's data, then fingerprints with
the encoding of `Fingerprint.scala`:
  - each Spark result, which must equal its golden (the two encoders agree);
  - each oracle query's DuckDB result, which should equal it too.
Prints one line per query and a summary; exits 1 if any golden disagrees
with the Spark result it was recorded from.
"""
import datetime
import decimal
import hashlib
import json
import os
import shutil
import subprocess
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
GOLDENS = os.path.join(HERE, "goldens", "catalog_sf0.01.json")
OUT = os.path.join(HERE, ".work", "verify")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
SIX = decimal.Context(prec=6, rounding=decimal.ROUND_HALF_EVEN)
EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_TZ = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
MASK = (1 << 64) - 1


def dec(d):
    if d == 0:
        return "0"
    return format(SIX.create_decimal(d).normalize(SIX), "f")


def value(v):
    """Canonical text of one value; mirrors Fingerprint.value."""
    if v is None:
        return "\u0000"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "NaN"
        if v in (float("inf"), float("-inf")):
            return "Inf" if v > 0 else "-Inf"
        return dec(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return dec(v)
    if isinstance(v, str):
        return v
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, datetime.datetime):
        base = EPOCH_TZ if v.tzinfo else EPOCH
        return str((v - base) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return str(v.toordinal() - EPOCH.date().toordinal())
    if isinstance(v, dict):
        return "{" + "\u001f".join(value(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(value(x) for x in v) + "]"
    return str(v)


def fingerprint(rel):
    names = rel.columns
    order = sorted(range(len(names)), key=lambda i: names[i])
    n, h = 0, 0
    for row in rel.fetchall():
        text = "\u001f".join(value(row[i]) for i in order)
        h = (h + int.from_bytes(hashlib.md5(text.encode("utf-8")).digest()[:8], "big")) & MASK
        n += 1
    return f"{n}:{h:016x}"


def main():
    with open(os.path.join(HERE, ".build", "classpath.txt")) as f:
        cp = f.read().strip()
    shutil.rmtree(OUT, ignore_errors=True)
    opens = [x for p in ("java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.nio",
                         "java.base/java.util", "java.base/sun.nio.ch", "java.base/java.io",
                         "java.base/java.net", "java.base/sun.util.calendar")
             for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(HERE, ".work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(HERE, ".work", "verify.log"), "w") as log:
        subprocess.run(["java", *opens, "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-cp", cp,
                        "graft.Verify", DATA, OUT], check=True, stdout=log, stderr=log)
    with open(GOLDENS) as f:
        goldens = json.load(f)
    with open(os.path.join(OUT, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    encoder_bad, oracle_bad, no_oracle = [], [], []
    for q in sorted(goldens):
        spark = fingerprint(con.sql(f"SELECT * FROM '{OUT}/{q}/*.parquet'"))
        if spark != goldens[q]:
            encoder_bad.append(q)
        if q not in oracles:
            no_oracle.append(q)
            print(f"{q}: golden {goldens[q]} spark {spark} oracle -")
            continue
        try:
            duck = fingerprint(con.sql(oracles[q]))
        except duckdb.Error as e:
            duck = f"error {type(e).__name__}"
        if duck != goldens[q]:
            oracle_bad.append(q)
        print(f"{q}: golden {goldens[q]} spark {spark} oracle {duck}")
    print(f"goldens {len(goldens)}; spark results re-encoded in python differ: {encoder_bad or 'none'}; "
          f"duckdb oracle differs: {oracle_bad or 'none'}; no oracle: {no_oracle or 'none'}")
    shutil.rmtree(OUT, ignore_errors=True)
    sys.exit(1 if encoder_bad else 0)


if __name__ == "__main__":
    main()
