"""DuckDB renderings that check each workload's output.

Each check reads the parquet the engine wrote and the parquet the
workload was given, computes the expected result with DuckDB, and
returns a list of failure messages (empty when the output is right).
Checks run after the timed region.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET threads = 4")
    return con


def _q(path) -> str:
    return "'" + str(path).replace("'", "''") + "'"


def _files(paths) -> str:
    return "[" + ", ".join(_q(p) for p in paths) + "]"


# --------------------------------------------------------------------------
# featurize_job: the flagship features, written ASOF/window by window
# --------------------------------------------------------------------------

_FEATURIZE_SQL = """
WITH img AS (SELECT * FROM read_parquet({images})),
f AS (
  SELECT image_id, epoch_us(ts) AS t_us, w, h, phash,
    cast(w AS double) / h AS aspect,
    CASE WHEN length(trim(caption)) = 0 THEN 0
         ELSE len(regexp_split_to_array(trim(caption), '\\s+')) END AS caption_tokens,
    lag(phash) OVER wo AS prev_phash,
    lag(epoch_us(ts)) OVER wo AS prev_us
  FROM img WINDOW wo AS (PARTITION BY image_id ORDER BY ts)
),
g AS (
  SELECT *,
    CASE WHEN prev_phash IS NULL THEN NULL
         ELSE bit_count(xor(phash, prev_phash)) END AS phash_hamming,
    CASE WHEN prev_us IS NULL THEN NULL
         ELSE ln(1 + (t_us // 1000000 - prev_us // 1000000)) END AS log_dt,
    CASE WHEN prev_us IS NULL OR t_us - prev_us > {gap_us} THEN 1 ELSE 0 END AS is_new
  FROM f
),
h AS (
  SELECT image_id, t_us, w, h, phash, aspect, caption_tokens, phash_hamming, log_dt,
    avg(phash_hamming) OVER wf AS ham_w_avg,
    max(phash_hamming) OVER wf AS ham_w_max,
    avg(caption_tokens) OVER wf AS tok_w_avg,
    min(aspect) OVER wf AS aspect_w_min,
    count(*) OVER wf AS n_in_window,
    sum(is_new) OVER wc - 1 AS session_id
  FROM g
  WINDOW wf AS (PARTITION BY image_id ORDER BY t_us
                ROWS BETWEEN {w_back} PRECEDING AND CURRENT ROW),
         wc AS (PARTITION BY image_id ORDER BY t_us
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
ann AS (SELECT image_id, epoch_us(start_ts) AS t_us, label FROM read_parquet({ann}))
SELECT h.*, ann.label AS asof_label
FROM h ASOF LEFT JOIN ann ON h.image_id = ann.image_id AND h.t_us >= ann.t_us
ORDER BY h.image_id, h.t_us
"""

FEATURE_INTS = ("w", "h", "phash", "caption_tokens", "phash_hamming", "ham_w_max",
                "n_in_window", "session_id")
FEATURE_FLOATS = ("aspect", "log_dt", "ham_w_avg", "tok_w_avg", "aspect_w_min",
                  "asof_label")


def check_featurize(images, annotations, output_files, window_size: int,
                    session_gap_s: int) -> list[str]:
    con = _connect()
    want = con.sql(
        _FEATURIZE_SQL.format(
            images=_q(images), ann=_q(annotations),
            gap_us=session_gap_s * 1_000_000, w_back=window_size - 1,
        )
    ).df()
    got = con.sql(
        f"SELECT * EXCLUDE (ts), epoch_us(ts) AS t_us FROM read_parquet({_files(output_files)})"
        " ORDER BY image_id, t_us"
    ).df()
    con.close()
    return compare_frames(want, got, ("image_id", "t_us") + FEATURE_INTS, FEATURE_FLOATS)


def compare_frames(want: pd.DataFrame, got: pd.DataFrame, exact, close) -> list[str]:
    """Ints and ids exact (NULL equal to NULL), floats allclose."""
    if len(want) != len(got):
        return [f"row count {len(got)} != expected {len(want)}"]
    errors = []
    for c in (*exact, *close):
        if c not in got.columns:
            errors.append(f"column {c} missing")
            continue
        a, b = want[c].reset_index(drop=True), got[c].reset_index(drop=True)
        if c in close:
            a = a.to_numpy(dtype="float64", na_value=np.nan)
            b = b.to_numpy(dtype="float64", na_value=np.nan)
            bad = ~np.isclose(a, b, rtol=1e-9, atol=1e-12, equal_nan=True)
        else:
            bad = ~((a.isna() & b.isna()) | (a.astype(object) == b.astype(object)))
            bad = bad.to_numpy()
        if bad.any():
            i = int(np.argmax(bad))
            errors.append(
                f"column {c}: {int(bad.sum())} mismatches, first at row {i}: "
                f"got {got[c].iloc[i]!r}, expected {want[c].iloc[i]!r}"
            )
    return errors


# --------------------------------------------------------------------------
# corpus_prep: the registered DuckDB oracle of llm_corpus_prep
# --------------------------------------------------------------------------


def check_corpus(documents, output_dir, oracle_sql: str) -> list[str]:
    con = _connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet({_q(documents)})")
    # evaluate each CTE once, as the engine's stage-audit oracle does;
    # inlined per reference, the dedup chain takes 7x longer
    want = con.sql(oracle_sql.replace(" AS (", " AS MATERIALIZED (")).df()
    got = con.sql(
        f"SELECT * FROM read_parquet({_q(str(output_dir) + '/*/*.parquet')},"
        " hive_partitioning = true)"
    ).df()
    con.close()
    if sorted(want.columns) != sorted(got.columns):
        return [f"columns {sorted(got.columns)} != expected {sorted(want.columns)}"]
    return _bit_exact(_normalize(want), _normalize(got))


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """The oracle-parity normalization: sorted columns, strings for
    object cells, microsecond timestamps, rows sorted by every column."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def _bit_exact(want: pd.DataFrame, got: pd.DataFrame) -> list[str]:
    if len(want) != len(got):
        return [f"row count {len(got)} != expected {len(want)}"]
    errors = []
    for c in want.columns:
        a, b = want[c], got[c]
        if pd.api.types.is_float_dtype(a) != pd.api.types.is_float_dtype(b):
            errors.append(f"column {c}: dtype {b.dtype} != expected {a.dtype}")
            continue
        bad = ~(a.eq(b) | (a.isna() & b.isna()))
        if bad.any():
            errors.append(f"column {c}: {int(bad.sum())} mismatches")
    return errors


# --------------------------------------------------------------------------
# at-rest window layout: the table equals stride_blocks over every ingested row
# --------------------------------------------------------------------------

_BLOCKS_SQL = """
WITH r AS (
  SELECT image_id, epoch_us(ts) AS t_us, v,
    row_number() OVER (PARTITION BY image_id ORDER BY ts) AS rn
  FROM read_parquet({rows})
),
want AS (
  SELECT image_id, (rn - 1) // {shift} AS block_id,
    list(v ORDER BY rn) AS vals, list(t_us ORDER BY rn) AS tss
  FROM r GROUP BY ALL
),
got AS (
  SELECT image_id, block_id, "values" AS vals,
    list_transform(ts_arr, x -> epoch_us(x)) AS tss
  FROM read_parquet({table}, hive_partitioning = true)
)
SELECT
  (SELECT count(*) FROM want) AS want_blocks,
  (SELECT count(*) FROM got) AS got_blocks,
  (SELECT count(*) FROM want FULL JOIN got USING (image_id, block_id)
   WHERE want.vals IS DISTINCT FROM got.vals
      OR want.tss IS DISTINCT FROM got.tss) AS bad_blocks
"""


def check_blocks(row_files, table_dir, shift: int) -> list[str]:
    con = _connect()
    want_n, got_n, bad = con.sql(
        _BLOCKS_SQL.format(
            rows=_files(row_files), table=_q(str(table_dir) + "/*/*.parquet"), shift=shift
        )
    ).fetchone()
    con.close()
    if bad or want_n != got_n:
        return [f"blocks table: {bad} blocks differ ({got_n} stored, {want_n} expected)"]
    return []
