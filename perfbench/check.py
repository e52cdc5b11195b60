"""Result signatures: row count plus a hash of the order-insensitive
canonical form that ``tools/check_parity.py`` compares against DuckDB.

The timed action is ``collect()``, as in ``bench.py``. Its rows are
turned into the pandas frame ``toPandas()`` would give (pyspark's own
per-column converters) outside the timed interval, so the signature
needs no second Spark job.
"""

from __future__ import annotations

import hashlib
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

from check_parity import frame_signature  # noqa: E402


def rows_to_pandas(rows, schema, timezone: str):
    import pandas as pd
    from pyspark.sql.pandas.types import _create_converter_to_pandas

    columns = [f.name for f in schema.fields]
    if rows:
        pdf = pd.DataFrame.from_records(rows, index=range(len(rows)), columns=columns)
    else:
        pdf = pd.DataFrame(columns=columns)
    if not columns:
        return pdf
    return pd.concat(
        [
            _create_converter_to_pandas(
                field.dataType, field.nullable, timezone=timezone, struct_in_pandas="row",
                error_on_duplicated_field_names=False, timestamp_utc_localized=False,
            )(pser)
            for (_, pser), field in zip(pdf.items(), schema.fields)
        ],
        axis="columns",
    )


def pandas_signature(pdf) -> dict:
    columns, values = frame_signature(pdf)
    digest = hashlib.sha256(repr((columns, values)).encode()).hexdigest()
    return {"rows": len(values), "sha256": digest}


def rows_signature(rows, schema, timezone: str) -> dict:
    return pandas_signature(rows_to_pandas(rows, schema, timezone))
