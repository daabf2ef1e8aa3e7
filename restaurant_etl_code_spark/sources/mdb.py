"""S6: Microsoft Access (.mdb) ingestion (SURVEY.md §2.1).

The reference shells out per file — ``mdb-export <path> Articles`` → CSV on
stdout → ``pd.read_csv`` → QteMain NaN→0 (reference:
repository/ops/extraction.py:108-158). Spark-first, the same contract splits
into three pieces:

1. An **extractor** — anything that turns MDB *bytes* into CSV *text* for one
   table (exactly ``mdb-export``'s stdout contract). ``MdbExportTool`` wraps
   the real binary when present; ``FakeMdbExtractor`` decodes a deterministic
   byte container so the full path is runnable (and testable) in environments
   without mdbtools — the container format is decoded for real, not monkey-
   patched.
2. ``read_mdb_catalog`` — single-file driver-side extraction: the CSV lines
   stay in memory as a local relation and are parsed by Spark's CSV parser
   with the same schema + QteMain fill every other grocery source uses. No
   staging file is written, so nothing is left behind. MDB files are
   desktop-DB sized (≤2 GB by format), so one driver extraction per file is
   not a scale problem.
3. ``read_mdb_catalog_distributed`` — the fan-out path for MANY files: a
   ``binaryFile`` scan ships each file's bytes to an executor, where
   ``mapInPandas`` runs the extractor and emits the CSV lines. One task per
   file, zero driver involvement — ten thousand retailer MDB drops land as
   one declarative scan.

Both readers parse their lines with the same tail (``_parse_lines``): one
parse contract, so an all-digit barcode stays a string with its leading
zeros on either path.

The real ``mdb-export`` needs a *file path*, so the distributed wrapper
spills each row's bytes to executor-local tmp before invoking it; the fake
extractor decodes in memory.
"""

from __future__ import annotations

import io
import os
import re
import shutil
import struct
import subprocess
import tempfile
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from restaurant_etl_code_spark import schemas
from restaurant_etl_code_spark.sources.readers import _fill_quantity

__all__ = [
    "FAKE_MDB_MAGIC",
    "write_fake_mdb",
    "FakeMdbExtractor",
    "MdbExportTool",
    "default_extractor",
    "read_mdb_catalog",
    "read_mdb_catalog_distributed",
]

# Extractor contract: (mdb_bytes, table_name) -> CSV text with a header row —
# byte-for-byte what `mdb-export file.mdb Table` writes to stdout.
Extractor = Callable[[bytes, str], str]

FAKE_MDB_MAGIC = b"FAKEMDB1"


# --------------------------------------------------------------------------
# Deterministic fake-MDB container: magic, table count, then per table a
# length-prefixed (name, csv-payload) record. Fixture-grade but genuinely
# decoded — the reader walks the byte layout, it does not cheat via a
# side-channel.
# --------------------------------------------------------------------------

def write_fake_mdb(path: str, tables: dict[str, str]) -> None:
    """Write ``{table_name: csv_text}`` as a fake .mdb byte container."""
    with open(path, "wb") as f:
        f.write(FAKE_MDB_MAGIC)
        f.write(struct.pack("<I", len(tables)))
        for name, csv_text in tables.items():
            nb, pb = name.encode("utf-8"), csv_text.encode("utf-8")
            f.write(struct.pack("<H", len(nb)))
            f.write(nb)
            f.write(struct.pack("<I", len(pb)))
            f.write(pb)


class FakeMdbExtractor:
    """Extractor over the fake container format (no external tools).
    Truncation anywhere raises — a short read that silently yielded a
    partial CSV would parse cleanly downstream and lose rows without a
    trace, the worst failure mode an ingest path can have."""

    @staticmethod
    def _read(buf: io.BytesIO, n: int, what: str) -> bytes:
        b = buf.read(n)
        if len(b) != n:
            raise ValueError(f"MDB container truncated reading {what}")
        return b

    def __call__(self, mdb_bytes: bytes, table: str) -> str:
        buf = io.BytesIO(mdb_bytes)
        if self._read(buf, 8, "magic") != FAKE_MDB_MAGIC:
            raise ValueError("not a fake-MDB container (bad magic)")
        (n_tables,) = struct.unpack("<I", self._read(buf, 4, "table count"))
        for _ in range(n_tables):
            (name_len,) = struct.unpack("<H", self._read(buf, 2, "name length"))
            name = self._read(buf, name_len, "table name").decode("utf-8")
            (payload_len,) = struct.unpack("<I", self._read(buf, 4, "payload length"))
            payload = self._read(buf, payload_len, f"table {name!r} payload")
            if name == table:
                return payload.decode("utf-8")
        raise KeyError(f"table {table!r} not present in MDB container")


class MdbExportTool:
    """Extractor shelling out to the real ``mdb-export`` (mdbtools).

    Arguments are passed as a LIST (no shell) — the reference's
    ``shell=True`` f-string is an injection hazard on attacker-named blobs.
    """

    def __init__(self, binary: str = "mdb-export"):
        if shutil.which(binary) is None:
            raise FileNotFoundError(
                f"{binary} not on PATH — install mdbtools or pass an "
                "explicit extractor (e.g. FakeMdbExtractor for fixtures)"
            )
        self.binary = binary

    def __call__(self, mdb_bytes: bytes, table: str) -> str:
        with tempfile.NamedTemporaryFile(suffix=".mdb", delete=False) as f:
            f.write(mdb_bytes)
            local = f.name
        try:
            proc = subprocess.run(
                [self.binary, local, table],
                check=True, capture_output=True, text=True,
            )
            return proc.stdout
        finally:
            os.unlink(local)


def default_extractor() -> Extractor:
    """Real tool when installed, fake-container decoder otherwise."""
    try:
        return MdbExportTool()
    except FileNotFoundError:
        return FakeMdbExtractor()


def _sniff_extractor(mdb_bytes: bytes) -> Extractor:
    if mdb_bytes[:8] == FAKE_MDB_MAGIC:
        return FakeMdbExtractor()
    return MdbExportTool()


def read_mdb_catalog(
    spark: SparkSession,
    mdb_path: str,
    table: str = "Articles",
    extractor: Extractor | None = None,
) -> DataFrame:
    """S6 single-file path: extract one table, then parse its CSV text with
    the standard grocery CSV contract (explicit schema + QteMain fill —
    reference extraction.py:146-155 semantics, including the NaN→0
    default).

    The lines travel as an Arrow-built local relation: no staging file to
    clean up, no Python worker at scan time, and a size estimate small
    enough for Catalyst to broadcast it."""
    import pandas as pd

    with open(mdb_path, "rb") as f:
        mdb_bytes = f.read()
    extract = extractor or _sniff_extractor(mdb_bytes)
    lines = _csv_lines(extract(mdb_bytes, table))
    text = spark.createDataFrame(
        pd.DataFrame({"value": pd.Series(lines, dtype=object)}), "value string"
    )
    return _parse_lines(text)


def read_mdb_catalog_distributed(
    spark: SparkSession,
    path: str,
    table: str = "Articles",
    extractor: Extractor | None = None,
) -> DataFrame:
    """S6 fan-out path: ``binaryFile`` scan over a directory/glob of .mdb
    files; each file's bytes are decoded executor-side in ``mapInPandas``
    (one Arrow batch per file row, one task per file). Adds
    ``container_name`` from the file's parent directory the way the JSON
    source derives it from the blob URL (P14)."""
    import pandas as pd

    extract = extractor  # closure-captured; None → sniff per file

    def decode(batches: Iterable["pd.DataFrame"]):
        for pdf in batches:
            for _, row in pdf.iterrows():
                raw = bytes(row["content"])
                ex = extract or _sniff_extractor(raw)
                yield pd.DataFrame({
                    "value": pd.Series(_csv_lines(ex(raw, table)), dtype=object),
                    "container_name": os.path.basename(os.path.dirname(row["path"])),
                })

    raw = spark.read.format("binaryFile").load(path)
    return _parse_lines(
        raw.select("path", "content").mapInPandas(
            decode, schema="value string, container_name string"
        )
    )


def _csv_lines(csv_text: str) -> list[str]:
    """Data lines of an extracted table, split the way Spark's text input
    splits a file (CR, LF or CRLF), with blank lines and the header row
    dropped as its CSV reader does."""
    return [ln for ln in re.split(r"\r\n|\r|\n", csv_text) if ln.strip()][1:]


def _parse_lines(text: DataFrame) -> DataFrame:
    """The grocery parse both MDB readers share: ``from_csv`` over the
    ``value`` lines with the GROCERY_ARTICLES_RAW schema and the reader's
    parser and options (columns by position, as the CSV source with a
    schema reads them), other columns carried along, then the QteMain
    fill."""
    ddl = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in schemas.GROCERY_ARTICLES_RAW.fields
    )
    extra = [c for c in text.columns if c != "value"]
    return _fill_quantity(
        text.select(F.from_csv("value", ddl).alias("r"), *extra).select("r.*", *extra)
    )
