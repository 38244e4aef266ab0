"""FCS (Flow Cytometry Standard) binary ingest — SURVEY.md §2.1 S4.

The reference pipeline's first step is reading .fcs files: a HEADER
(ASCII offsets), a TEXT segment (delimiter-separated key/value
metadata: $PAR parameter count, $TOT event count, $PnN channel names,
$DATATYPE, $BYTEORD, $PnE log-amplifier settings), and a DATA segment
(an events × channels numeric matrix). Capability reconstructed from
the public FCS 3.0/3.1 specification (SURVEY.md §0.2 step 1; the
reference checkout itself is empty).

Spark-first design: ``spark.read.format("binaryFile")`` reads whole
files, one row per file (FCS files are single-sample and MB-scale, so
the parallel unit is the FILE), and a ``mapInPandas`` parser decodes
each file with NumPy into one pandas frame. The readers share that
scan and per-file loop. ``read_fcs_wide`` emits one row per event,
(sample_id, event_id, <channels>), for a pinned channel list: the
pipeline's ingest, with no shuffle before the first aggregation.
``read_fcs_long`` emits (sample_id, event_id, channel, value), a schema
stable across channel sets (SURVEY.md §1.1 layout (b)) that
``fcs_wide`` pivots long→wide (C4). ``read_fcs_metadata`` emits the
TEXT segment as (sample_id, key, value).

Parsing is defensive per the spec's quirks: delimiter escaping
(doubled delimiters inside values), missing $BYTEORD variants, and
$PnE log-amplified parameters (decoded as value = 10^(f1·x/range)·f2).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FCS_LONG_SCHEMA = StructType(
    [
        StructField("sample_id", StringType(), False),
        StructField("event_id", LongType(), False),
        StructField("channel", StringType(), False),
        StructField("value", DoubleType(), True),
    ]
)

FCS_META_SCHEMA = StructType(
    [
        StructField("sample_id", StringType(), False),
        StructField("key", StringType(), False),
        StructField("value", StringType(), True),
    ]
)


def parse_fcs_bytes(data: bytes) -> tuple[dict[str, str], list[str], "object"]:
    """Parse one FCS file: returns (text_metadata, channel_names,
    events×channels float64 ndarray). Pure function — unit-testable
    without Spark. Supports FCS 2.0/3.0/3.1, $DATATYPE F/D/I,
    little/big $BYTEORD, TEXT delimiter escaping."""
    import numpy as np

    if len(data) < 58:
        raise ValueError("truncated FCS header")
    version = data[0:6].decode("ascii", "replace").strip()
    if not version.startswith("FCS"):
        raise ValueError(f"not an FCS file: {version!r}")

    def _off(lo: int, hi: int) -> int:
        s = data[lo:hi].decode("ascii", "replace").strip()
        return int(s) if s else 0

    text_start, text_end = _off(10, 18), _off(18, 26)
    data_start, data_end = _off(26, 34), _off(34, 42)

    raw = data[text_start : text_end + 1]
    if not raw:
        raise ValueError("empty TEXT segment")
    delim = raw[0:1]
    body = raw[1:]
    if body.endswith(delim):
        body = body[:-1]
    # Doubled delimiter inside a value is an escaped literal delimiter.
    sentinel = b"\x00\x01ESC\x01\x00"
    parts = body.replace(delim + delim, sentinel).split(delim)
    parts = [p.replace(sentinel, delim) for p in parts]
    kv = {}
    for i in range(0, len(parts) - 1, 2):
        kv[parts[i].decode("utf-8", "replace").strip().upper()] = parts[i + 1].decode(
            "utf-8", "replace"
        )

    n_par = int(kv.get("$PAR", 0))
    n_tot = int(kv.get("$TOT", 0))
    dtype_code = kv.get("$DATATYPE", "F").strip().upper()
    byteord = kv.get("$BYTEORD", "1,2,3,4").strip()
    little = byteord.startswith("1")
    channels = [
        kv.get(f"$P{i}N", f"P{i}").strip() or f"P{i}" for i in range(1, n_par + 1)
    ]

    if not data_start or data_end <= data_start:
        data_start = int(kv.get("$BEGINDATA", 0) or 0)
        data_end = int(kv.get("$ENDDATA", 0) or 0)
    buf = data[data_start : data_end + 1]

    order = "<" if little else ">"
    if dtype_code == "F":
        np_t = np.dtype(f"{order}f4")
    elif dtype_code == "D":
        np_t = np.dtype(f"{order}f8")
    elif dtype_code == "I":
        bits = int(kv.get("$P1B", "16"))
        np_t = np.dtype(f"{order}u{bits // 8}")
    else:
        raise ValueError(f"unsupported $DATATYPE {dtype_code}")

    need = n_tot * n_par * np_t.itemsize
    if len(buf) < need:
        raise ValueError(f"DATA segment short: {len(buf)} < {need}")
    mat = (
        np.frombuffer(buf[:need], dtype=np_t)
        .reshape(n_tot, n_par)
        .astype(np.float64)
    )

    # $PnE log-amplification: value = 10^(f1 * x / range) * f2
    for i in range(1, n_par + 1):
        pne = kv.get(f"$P{i}E")
        if pne:
            try:
                f1, f2 = (float(x) for x in pne.split(","))
            except ValueError:
                continue
            if f1 > 0:
                rng = float(kv.get(f"$P{i}R", "1024") or 1024)
                f2 = f2 if f2 > 0 else 1.0
                mat = mat.copy() if mat.base is not None else mat
                mat[:, i - 1] = 10.0 ** (f1 * mat[:, i - 1] / rng) * f2
    return kv, channels, mat


def _map_files(
    spark: SparkSession, path: str, on_error: str,
    to_frame: Callable[..., pd.DataFrame], schema: StructType,
) -> DataFrame:
    """binaryFile scan → one mapInPandas parser that yields
    ``to_frame(sample_id, text_metadata, channel_names, matrix)`` per
    file. ``on_error="skip"`` drops a file that fails to parse;
    ``"fail"`` lets its error fail the job."""
    if on_error not in ("fail", "skip"):
        raise ValueError(f"on_error must be 'fail' or 'skip', got {on_error!r}")
    skip_bad = on_error == "skip"

    def _parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import os

        for pdf in batches:
            for file_path, content in zip(pdf["path"], pdf["content"]):
                try:
                    parsed = parse_fcs_bytes(bytes(content))
                except Exception:
                    if skip_bad:
                        continue
                    raise
                yield to_frame(os.path.basename(file_path), *parsed)

    bins = spark.read.format("binaryFile").load(path).select("path", "content")
    return bins.mapInPandas(_parse, schema)


def _long_frame(sample_id: str, channels: list[str], mat) -> pd.DataFrame:
    """One file's events in the long format (FCS_LONG_SCHEMA order)."""
    import numpy as np

    n_tot, n_par = mat.shape
    return pd.DataFrame(
        {
            "sample_id": np.repeat(sample_id, n_tot * n_par),
            "event_id": np.repeat(np.arange(n_tot, dtype=np.int64), n_par),
            "channel": np.tile(np.array(channels, dtype=object), n_tot),
            "value": mat.ravel(),
        }
    )


def read_fcs_wide(
    spark: SparkSession, path: str, channels: list[str], on_error: str = "fail"
) -> DataFrame:
    """Ingest a directory (or glob) of .fcs files as one row per event:
    (sample_id, event_id, <channels>), every channel a double.

    Channels are matched by name. A requested channel that a file lacks
    is null for that file's events, and a channel name a file repeats
    takes its first occurrence. ``on_error`` as for ``read_fcs_long``.
    """
    schema = StructType(
        FCS_LONG_SCHEMA.fields[:2] + [StructField(c, DoubleType(), True) for c in channels]
    )

    def _wide(sample_id, _kv, names, mat) -> pd.DataFrame:
        import numpy as np

        first = {name: k for k, name in reversed(list(enumerate(names)))}
        n_tot = mat.shape[0]
        cols = {
            "sample_id": np.repeat(sample_id, n_tot),
            "event_id": np.arange(n_tot, dtype=np.int64),
        }
        for c in channels:
            cols[c] = mat[:, first[c]] if c in first else np.full(n_tot, np.nan)
        return pd.DataFrame(cols)

    return _map_files(spark, path, on_error, _wide, schema)


def read_fcs_long(
    spark: SparkSession, path: str, on_error: str = "fail"
) -> DataFrame:
    """Ingest a directory (or glob) of .fcs files into the engine's
    long format (sample_id, event_id, channel, value): events × channels
    rows per file.

    on_error: "fail" (default — a malformed file aborts the job with
    the parser's error) or "skip" (malformed files contribute zero
    rows; the production ingest posture, since one corrupt upload
    must not sink a 100k-file batch — PERMISSIVE-mode semantics for a
    binary format the JSON/CSV readers get for free).
    """
    return _map_files(
        spark, path, on_error,
        lambda sample_id, _kv, channels, mat: _long_frame(sample_id, channels, mat),
        FCS_LONG_SCHEMA,
    )


def read_fcs_metadata(spark: SparkSession, path: str) -> DataFrame:
    """TEXT-segment metadata as (sample_id, key, value) rows."""

    def _meta(sample_id, kv, _channels, _mat) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "sample_id": [sample_id] * len(kv),
                "key": list(kv.keys()),
                "value": list(kv.values()),
            }
        )

    return _map_files(spark, path, "fail", _meta, FCS_META_SCHEMA)


def fcs_wide(long_df: DataFrame, channels: list[str]) -> DataFrame:
    """Long→wide pivot (C4) with a pinned channel list so the schema is
    static (no extra distinct pass at plan time). Straight from files,
    ``read_fcs_wide`` gives the same rows without the shuffle."""
    return (
        long_df.groupBy("sample_id", "event_id")
        .pivot("channel", channels)
        .agg(F.first("value"))
    )


def make_fcs_bytes(
    channels: list[str],
    matrix,
    version: str = "FCS3.1",
    datatype: str = "F",
    little_endian: bool = True,
    extra_text: dict[str, str] | None = None,
) -> bytes:
    """Synthesize a spec-conformant FCS file (test fixture generator —
    FIXTURES.md notes the driver fixtures contain no FCS binaries)."""
    import numpy as np

    mat = np.asarray(matrix, dtype=np.float64)
    n_tot, n_par = mat.shape
    order = "<" if little_endian else ">"
    np_t = {"F": f"{order}f4", "D": f"{order}f8", "I": f"{order}u2"}[datatype]
    payload = np.ascontiguousarray(mat.astype(np_t)).tobytes()

    kv = {
        "$PAR": str(n_par),
        "$TOT": str(n_tot),
        "$DATATYPE": datatype,
        "$BYTEORD": "1,2,3,4" if little_endian else "4,3,2,1",
        "$MODE": "L",
    }
    for i, name in enumerate(channels, 1):
        kv[f"$P{i}N"] = name
        kv[f"$P{i}B"] = {"F": "32", "D": "64", "I": "16"}[datatype]
    kv.update(extra_text or {})

    delim = "/"
    text = delim + delim.join(
        f"{k}{delim}{v.replace(delim, delim * 2)}"
        for k, v in ((k, str(v)) for k, v in kv.items())
    ) + delim

    header_len = 58
    text_start = header_len
    text_end = text_start + len(text.encode()) - 1
    data_start = text_end + 1
    data_end = data_start + len(payload) - 1
    header = (
        f"{version:<10.10}"
        f"{text_start:>8}{text_end:>8}{data_start:>8}{data_end:>8}"
        f"{0:>8}{0:>8}"
    ).encode("ascii")
    assert len(header) == 58
    return header + text.encode() + payload
