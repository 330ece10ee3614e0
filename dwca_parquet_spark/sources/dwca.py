"""Darwin Core Archive (DwC-A) source: meta.xml discovery + zip-member CSV
reading into DataFrames.

Reference semantics reproduced (not ported — the reference hands a Jinja'd
SQL string to DuckDB+zipfs; here the archive descriptor drives declarative
``spark.read.csv`` plans):

- ``meta.xml`` drives everything: file locations, encodings, field
  separators, and the positional id/coreid join keys
  (``/root/reference/src/dwca_parquet/libs/dwca.py:8-44``).
- Separators arrive as escaped strings ("\\t") and the id column NAME is
  resolved by looking the ``<id index=…>`` position up in the header row
  (``dwca.py:19-25``).
- Spark cannot scan inside zip archives (DuckDB used its zipfs extension,
  ``settings.py:50,59``), so the archive stages to a local directory first —
  the same cache-then-read pattern the reference uses for remote archives
  (``libs/parquet.py:35-42``). At 100 TB the staging step is the ingest
  boundary: unpack once, convert to parquet early, and every downstream
  operator reads columnar.
- ``ignoreHeaderLines`` is parsed but not honored: DuckDB's ``read_csv``
  skips exactly one header line (``templates/query.sql:2,4``), so declared
  comment/unit lines after the header reach the data in both engines alike.

Schema policy: ``infer_schema=True`` mirrors DuckDB's sniffer
(``templates/query.sql:2,4``; extensions use full-sample inference =
``samplingRatio 1.0``). For oracle-exact typing, ``infer_schema=False``
reads everything as string — differential tests use explicit casts.
"""

from __future__ import annotations

import codecs
import zipfile
from dataclasses import dataclass, field
from pathlib import Path
from xml.etree import ElementTree

from pyspark.sql import DataFrame, SparkSession

_DWC_NS = "{http://rs.tdwg.org/dwc/text/}"


@dataclass
class SourceLayer:
    """One delimited file inside the archive (core or extension).

    Mirrors the reference's layer dict (``libs/dwca.py:8-29``): ``alias`` is
    the filename stem (used as table alias, ``dwca.py:10``), ``id_col`` the
    join-key column name resolved from the positional index
    (``dwca.py:24-25``).
    """

    alias: str
    location: str
    sep: str
    encoding: str
    headers: list[str]
    id_col: str
    ignore_header_lines: int = 1  # as declared; reads skip one line regardless


@dataclass
class DwcaArchive:
    """Parsed archive descriptor: the engine's IR replacing the reference's
    Jinja context (``dwca.py:44``)."""

    root: Path
    core: SourceLayer
    extensions: list[SourceLayer] = field(default_factory=list)


def _decode_sep(raw: str | None) -> str:
    """meta.xml fieldsTerminatedBy arrives escaped ('\\t'); decode like the
    reference's regex-split path does implicitly (``dwca.py:19-20``)."""
    if not raw:
        return ","
    return codecs.decode(raw, "unicode_escape")


def _read_headers(path: Path, encoding: str, sep: str) -> list[str]:
    with open(path, encoding=encoding) as f:
        first = f.readline().rstrip("\r\n")
    return [h.strip() for h in first.split(sep)]


def _parse_layer(node: ElementTree.Element, root: Path) -> SourceLayer:
    files = node.find(f"{_DWC_NS}files")
    location = files.find(f"{_DWC_NS}location").text
    sep = _decode_sep(node.get("fieldsTerminatedBy"))
    encoding = node.get("encoding") or "UTF-8"
    ignore = int(node.get("ignoreHeaderLines") or 1)
    headers = _read_headers(root / location, encoding, sep)
    id_node = node.find(f"{_DWC_NS}id")
    if id_node is None:
        id_node = node.find(f"{_DWC_NS}coreid")
    id_col = headers[int(id_node.get("index"))]
    alias = Path(location).stem
    return SourceLayer(
        alias=alias,
        location=location,
        sep=sep,
        encoding=encoding,
        headers=headers,
        id_col=id_col,
        ignore_header_lines=ignore,
    )


def stage_archive(source: str | Path, staging_dir: str | Path) -> Path:
    """Extract a local DwC-A zip into ``staging_dir`` and return that dir.

    Spark has no zip source, so the archive is unpacked once, straight from
    the zip the caller fetched (reference ``libs/parquet.py:35-42`` caches
    then reads the same way). The caller owns the staging lifecycle (the
    reference deletes in ``finally``, ``parquet.py:52-54`` — use a
    tempfile.TemporaryDirectory context).
    """
    staging = Path(staging_dir)
    with zipfile.ZipFile(source) as zf:
        zf.extractall(staging)
    return staging


def parse_meta(extract_dir: str | Path) -> DwcaArchive:
    """Parse meta.xml → DwcaArchive (semantics of ``libs/dwca.py:31-44``).

    Malformed archives fail with a message naming what is missing — a
    harvest job processing hundreds of IPT datasets needs the failure to
    say WHICH contract the archive broke, not an AttributeError."""
    root = Path(extract_dir)
    meta_path = root / "meta.xml"
    if not meta_path.exists():
        raise FileNotFoundError(
            f"not a DwC-A: no meta.xml in {root} (archive must carry its "
            "descriptor at the extraction root)"
        )
    meta = ElementTree.parse(meta_path).getroot()
    core_node = meta.find(f"{_DWC_NS}core")
    if core_node is None:
        raise ValueError(
            f"malformed meta.xml in {root}: no <core> element — a DwC-A "
            "declares exactly one core table"
        )
    core = _parse_layer(core_node, root)
    extensions = [
        _parse_layer(ext, root) for ext in meta.findall(f"{_DWC_NS}extension")
    ]
    return DwcaArchive(root=root, core=core, extensions=extensions)


def read_layer(
    spark: SparkSession,
    archive: DwcaArchive,
    layer: SourceLayer,
    infer_schema: bool = True,
) -> DataFrame:
    """One layer → DataFrame via spark.read.csv (reference query.sql:2,4).

    samplingRatio=1.0 mirrors DuckDB's ``sample_size=-1`` full-table sniff
    on extensions. Multi-char separators are supported by Spark ≥3.0 so the
    decoded meta.xml separator passes straight through. Exactly one header
    line is skipped whatever ``ignoreHeaderLines`` declares, as DuckDB's
    ``read_csv`` does in the reference."""
    reader = (
        spark.read.option("header", True)
        .option("sep", layer.sep)
        .option("encoding", layer.encoding)
        .option("multiLine", False)
    )
    if infer_schema:
        reader = reader.option("inferSchema", True).option("samplingRatio", 1.0)
    df = reader.csv(str(archive.root / layer.location))
    return df.alias(layer.alias)


def read_dwca(
    spark: SparkSession,
    source: str | Path,
    staging_dir: str | Path,
    infer_schema: bool = True,
) -> tuple[DwcaArchive, DataFrame, list[DataFrame]]:
    """Full archive → (descriptor, core DataFrame, extension DataFrames)."""
    extract_dir = stage_archive(source, staging_dir)
    archive = parse_meta(extract_dir)
    core_df = read_layer(spark, archive, archive.core, infer_schema)
    ext_dfs = [
        read_layer(spark, archive, ext, infer_schema) for ext in archive.extensions
    ]
    return archive, core_df, ext_dfs
