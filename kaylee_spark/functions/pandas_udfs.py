"""Arrow-vectorized Python UDF surface (pandas_udf / applyInPandas).

The reference's ENTIRE user API is shipped Python functions
(`/root/reference/kaylee/server.py:306-331` marshals mapfn/reducefn to
workers); in this engine arbitrary Python rides Spark's Arrow path
instead — scalar pandas_udf (SERIES -> SERIES), grouped-agg pandas_udf
(SERIES -> scalar, usable inside groupBy().agg), and grouped-map
applyInPandas (DataFrame per group). Row-at-a-time ``F.udf`` is
deliberately absent: Arrow batching is 10-100x faster and these three
shapes cover everything the row UDF can express.

Everything here is deterministic so results hash-match SQL oracles:
token counts are ints, means are one int/int division, medians are
numpy interpolated medians (same definition DuckDB uses).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

#: word / number / single-punctuation pieces — a cheap BPE-ish proxy.
#: Simple character classes only, so Python re and DuckDB's RE2 agree.
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@pandas_udf(LongType())
def pd_token_count(text: pd.Series) -> pd.Series:
    """Scalar pandas_udf: regex token count per document.

    Arrow ships the column in batches; the regex runs vectorized in
    one Python roundtrip per batch (vs one per ROW for F.udf).
    """
    pat = re.compile(TOKEN_PATTERN)
    return text.fillna("").map(lambda t: len(pat.findall(t)))


def lang_stats_pandas(docs: DataFrame) -> DataFrame:
    """Grouped-map applyInPandas: per-language corpus stats.

    Each language group arrives as ONE pandas DataFrame — the grouped
    UDF shape for holistic per-group logic (the batch analogue of the
    reference's holistic reducefn, `client.py:204-217`). At scale a
    group must fit one executor's memory: fine for language-keyed
    groups, wrong for user-keyed clickstreams — use the built-in aggs
    or a grouped-agg pandas_udf there instead.
    """
    out_schema = "lang string, n_docs long, total_chars long, mean_chars double, median_chars double"

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        total = int(pdf["n_chars"].sum())
        return pd.DataFrame(
            {
                "lang": [pdf["lang"].iloc[0]],
                "n_docs": [n],
                "total_chars": [total],
                "mean_chars": [total / n],
                "median_chars": [float(pdf["n_chars"].median())],
            }
        )

    return docs.select("lang", "n_chars").groupBy("lang").applyInPandas(stats, out_schema)


def arrow_doc_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """mapInArrow — the ARROW-NATIVE batch tier below pandas UDFs: the
    batch arrives as a pyarrow RecordBatch and every transform here is
    a pyarrow.compute kernel (C++ vectorized), so there is no
    Arrow->pandas materialization at all — the lowest-overhead Python
    hook Spark offers (probed working on this build, Spark 4). Use it
    when the per-batch logic is expressible in Arrow kernels but not
    in Catalyst expressions — here a deterministic per-doc profile
    (byte length, single-space-split segment count) whose SQL oracle
    replays it exactly (octet_length / len(string_split)).

    The ladder, fastest first: built-in functions (codegen) >
    mapInArrow (Arrow kernels, no pandas) > pandas_udf (Arrow +
    pandas) > row-at-a-time Python UDF (never in this engine).
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    def stats(batches):
        for b in batches:
            text = b.column(text_col)
            yield pa.table(
                {
                    id_col: b.column(id_col),
                    "n_bytes": pc.binary_length(text).cast(pa.int64()),
                    "n_segments": pc.list_value_length(
                        pc.split_pattern(text, " ")
                    ).cast(pa.int64()),
                }
            ).to_batches()[0]

    return docs.select(id_col, text_col).mapInArrow(
        stats, f"{id_col} long, n_bytes long, n_segments long"
    )
