"""Self-check of the benchmark's input generators.

    python3 perfbench/selfcheck.py

Run from the root of a checkout. Checks that

* the same seed gives byte-identical messy CSVs, corpora and embeddings,
  and another seed gives other bytes;
* a small messy CSV recovers through ``sources.messy_csv.read_superstore_csv``
  with zero unparsed rows, every field equal to the generated record, and
  a census (records, planted duplicates, distinct customers, products and
  geographies) equal to the generator's ground truth.

Exits 0 and prints ``selfcheck: ok`` when every check holds.
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import gen_corpus
import gen_csv
import harness

N = 2_000
DUPS = 25


def _same_bytes() -> list[str]:
    errors = []
    a = gen_csv.generate(5, N, DUPS)
    if a[0] != gen_csv.generate(5, N, DUPS)[0]:
        errors.append("messy CSV differs between two runs with one seed")
    if a[0] == gen_csv.generate(6, N, DUPS)[0]:
        errors.append("messy CSV does not change with the seed")
    if gen_corpus.documents(5, 500, 0.1) != gen_corpus.documents(5, 500, 0.1):
        errors.append("corpus differs between two runs with one seed")
    if gen_corpus.embeddings(5, 200, 10) != gen_corpus.embeddings(5, 200, 10):
        errors.append("embeddings differ between two runs with one seed")
    return errors


def _recovery(root: Path) -> list[str]:
    work = root / ".perfbench_work" / "selfcheck"
    shutil.rmtree(work, ignore_errors=True)
    harness.prepare_environment(work, trace=False)
    sys.path.insert(1, str(root))
    from pyspark.sql import functions as F

    from superstore_data_pipeline_analytics_dashboard__spark.session import get_spark
    from superstore_data_pipeline_analytics_dashboard__spark.sources.messy_csv import (
        CSV_COLUMNS,
        read_superstore_csv_with_quarantine,
    )

    data, truth, records = gen_csv.generate(11, N, DUPS)
    path = work / "messy.csv"
    path.write_bytes(data)
    spark = None
    errors = []
    try:
        n = harness.cores()
        spark = get_spark(app_name="perfbench-selfcheck", master=f"local[{n}]",
                          shuffle_partitions=n)
        spark.sparkContext.setLogLevel("ERROR")
        out = read_superstore_csv_with_quarantine(spark, str(path))
        unparsed = out["quarantine"].count()
        got = {r["SourceRowNum"]: tuple(r[c] for c in CSV_COLUMNS[1:])
               for r in out["good"].collect()}
        if unparsed:
            errors.append(f"{unparsed} unparsed rows")
        if len(got) != truth["records"]:
            errors.append(f"{len(got)} records recovered, {truth['records']} generated")
        wrong = [r[0] for r in records if got.get(int(r[0])) != tuple(r[1:])]
        if wrong:
            errors.append(f"{len(wrong)} records differ from the generated fields, "
                          f"first Row ID {wrong[0]}")
        good = out["good"]
        census = good.agg(
            F.countDistinct("Customer ID").alias("customers"),
            F.countDistinct("Product ID").alias("products"),
            F.countDistinct("City", "State", "Postal Code", "Region").alias("geographies"),
            (F.count(F.lit(1)) - F.countDistinct("Order ID", "Product ID")).alias("dups"),
        ).collect()[0]
        want = {"customers": truth["customers"], "products": truth["products"],
                "geographies": truth["geographies"],
                "dups": len(truth["planted_duplicates"])}
        for k, v in want.items():
            if census[k] != v:
                errors.append(f"census {k}: {census[k]} recovered, {v} in the ground truth")
    finally:
        harness.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return errors


def main() -> int:
    errors = _same_bytes() + _recovery(Path.cwd())
    for e in errors:
        print(f"selfcheck: {e}", file=sys.stderr)
    print("selfcheck: ok" if not errors else f"selfcheck: {len(errors)} failures")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
