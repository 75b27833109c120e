"""CLI entry with the reference job's exact invocation shape.

The reference is driven as
``spark-submit spark_converter.py <input> <output>`` (reference
README.md:164-167, scripts/spark_converter.py:5-16). Same UX here:

    spark-submit -m emr_with_custom_metrics_spark <input_tsv> <output_parquet>
    python -m emr_with_custom_metrics_spark <input_tsv> <output_parquet> \
        [group_col] [num_output_files]

Reads headered TSV (all-string, S1 parity), prints the category counts
(X1's show()), writes repartitioned parquet (P1+S2) — scanning the TSV
once, where the reference scanned it twice (SURVEY.md §4.1).
"""

from __future__ import annotations

import sys


def main(argv: list[str]) -> int:
    if len(argv) < 3:
        print(
            "usage: python -m emr_with_custom_metrics_spark "
            "<input_tsv_dir> <output_parquet_dir> [group_col] [num_output_files]",
            file=sys.stderr,
        )
        return 2
    input_path, output_path = argv[1], argv[2]
    group_col = argv[3] if len(argv) > 3 else "product_category"
    num_files = int(argv[4]) if len(argv) > 4 else 10

    from emr_with_custom_metrics_spark.session import get_spark
    from emr_with_custom_metrics_spark.sources.reference_pipeline import convert

    spark = get_spark(app_name="SparkConverter")
    try:
        counts = convert(
            spark, input_path, output_path, group_col=group_col, num_output_files=num_files
        )
        counts.show()  # X1 parity: first 20 grouped rows to stdout
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
