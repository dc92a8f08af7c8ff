"""Regenerate docs/PLANS.md plan dumps for the audited queries.

Usage: python scripts/dump_plans.py <section> ...
Sections: flagship, q5, q1, pip_assign, minhash, asof
Prints each as '=== <name> ===' + explain('formatted') output. The
flagship section plans over a fixture images table written as parquet to a
temporary directory; the other sections read the sf0.01 test data.
"""

import contextlib
import io
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def fmt(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from stac_to_geocore_spark.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as m

    qs = m.queries()
    targets = sys.argv[1:] or ["flagship", "q5", "q1", "pip_assign", "minhash", "asof"]
    tmp = tempfile.TemporaryDirectory(prefix="dump_plans_")  # removed at exit
    for t in targets:
        if t == "flagship":
            from stac_to_geocore_spark.fixtures import images_df, polygons_df
            from stac_to_geocore_spark.pipeline import flagship

            path = os.path.join(tmp.name, "images")
            images_df(spark, 200_000, bytes_mode="none").write.parquet(path)
            df = flagship(spark.read.parquet(path), polygons_df(spark, 24))
        else:
            name = {
                "q5": "q5_local_supplier", "q1": "q1_pricing_summary",
                "pip_assign": "pip_assign", "minhash": "minhash_near_dup",
                "asof": "asof_latest_order", "range_join": "range_join_events",
            }[t]
            df = qs[name](spark, "/root/testdata/sf0.01")
        print(f"=== {t} ===")
        print(fmt(df))


if __name__ == "__main__":
    main()
