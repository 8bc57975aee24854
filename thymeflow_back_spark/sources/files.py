"""File synchronizer: recursive binary scan, extension dispatch, zip expansion.

Spark shape of the reference FileSynchronizer (SURVEY.md §2.1): the
directory walk is `spark.read.format("binaryFile")` (distributed, pruned by
pathGlobFilter), zip members are expanded inside mapInPandas, and each file
(or zip member) is routed to a converter by extension. The extensions are
the reference's: eml, ics, vcf, zip and json (location history); like the
reference, RDF files are not dispatched. Output is the quads DataFrame; one
graph per artifact.

No entry point scans files yet; the live PKB's file source (ROADMAP item 1)
is the caller this waits for.
"""

from __future__ import annotations

import io
import os
import zipfile
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..rdf.model import QUAD_SCHEMA

# extension -> converter(bytes, source_path) -> list[quad tuple]
Converter = Callable[[bytes, str], list[tuple]]


def _registry() -> dict[str, Converter]:
    from .eml import eml_to_quads
    from .ical import ical_to_quads
    from .location_history import location_history_to_quads
    from .vcard import vcard_to_quads

    return {
        ".eml": eml_to_quads,
        ".vcf": vcard_to_quads,
        ".ics": ical_to_quads,
        ".json": location_history_to_quads,
    }


def scan_files(spark: SparkSession, path: str, glob: str | None = None) -> DataFrame:
    """Recursive binary scan: (path, modificationTime, length, content)."""
    reader = spark.read.format("binaryFile").option("recursiveFileLookup", "true")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def _iter_artifacts(path: str, content: bytes) -> Iterator[tuple[str, bytes]]:
    """Yield (artifact_path, bytes); zips expand to their members."""
    ext = os.path.splitext(path)[1].lower()
    if ext == ".zip":
        try:
            with zipfile.ZipFile(io.BytesIO(content)) as zf:
                for member in zf.namelist():
                    if member.endswith("/"):
                        continue
                    yield f"{path}!{member}", zf.read(member)
        except zipfile.BadZipFile:
            return
    else:
        yield path, content


def convert_to_quads(files: DataFrame) -> DataFrame:
    """binaryFile DataFrame → quads via extension-dispatched converters.

    Unknown extensions are skipped (the reference logs-and-ignores too).
    Converters run per-partition inside mapInPandas; each batch's Python cost
    is amortized over many files via Arrow transfer.
    """
    registry = _registry()

    def convert(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[tuple] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                for apath, abytes in _iter_artifacts(path, bytes(content)):
                    conv = registry.get(os.path.splitext(apath)[1].lower())
                    if conv is not None:
                        rows.extend(conv(abytes, apath))
            yield pd.DataFrame(rows, columns=list(QUAD_SCHEMA.names))

    return files.select("path", "content").mapInPandas(convert, QUAD_SCHEMA)
