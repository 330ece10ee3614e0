"""Deterministic, seeded inputs for the benchmark.

Everything the engine reads is made here, never by the package: Darwin
Core Archives (zip bytes) and the fake IPT's RSS and EML documents. The
same seed gives byte-identical
bytes; a different seed gives the same total rows and variant counts, so
numbers stay comparable across seeds.

Each archive comes with an ``ArchiveRecord``: what the conversion must
produce, derived from the generated rows alone (the reference's
``query.sql`` semantics: inner star join, ``fid`` = core id, ``geom`` =
footprint WKT, else ``POINT (lat lon)``, else NULL).
"""

from __future__ import annotations

import io
import zipfile
from dataclasses import dataclass, field

import numpy as np

ZIP_TIME = (2020, 1, 1, 0, 0, 0)
IPT_URL = "http://ipt.bench.invalid"

# FIXTURES.md section B variant axes
SEPARATORS = (",", "\t")
ENCODINGS = ("UTF-8", "ISO-8859-1")
EXTENSION_COUNTS = (0, 1, 2)

GENERA = ("Parus", "Picea", "Salmo", "Betula", "Lynx", "Vulpes", "Bufo", "Carex")
# latin-1-representable accents, so every archive encodes in either charset
EPITHETS = ("major", "abies", "salar", "pubescens", "lynx", "vulpes",
            "bufo", "nigra", "åsen", "fjällbo", "sjö", "bär")
CREATORS = ("Ingrid Ødegård", "Lars Berg", "Åsa Lind", "Jon Dahl",
            "Marit Næss", "Ola Nordmann")
KEYWORDS = ("Occurrence", "Observation", "Specimen", "Norway", "Birds",
            "Fish", "Plants", "Monitoring", "Survey", "Inventory")
MOF_TYPES = ("mass", "length", "count", "cover", "depth")


def fmt_coord(k: int) -> str:
    """A coordinate held as integer hundredths, rendered the way the
    reference's ``ST_AsText(ST_Point(..))`` prints it: shortest decimal,
    integral values without a fraction."""
    return str(k // 100) if k % 100 == 0 else repr(k / 100)


@dataclass
class Variant:
    sep: str = ","
    encoding: str = "UTF-8"
    n_ext: int = 1
    fanout_max: int = 1  # measurementorfact rows per core id: 1 or 0..N
    footprint_frac: float = 0.1


@dataclass
class ArchiveRecord:
    """Expected conversion output of one archive, from the generator."""

    fid: list[str] = field(repr=False)  # one entry per distinct core row
    geom: list[str | None] = field(repr=False)
    weight: list[int] = field(repr=False)  # join multiplicity of each core row
    csv_bytes: int = 0  # uncompressed CSV bytes (core + extensions)


def _meta_xml(core_sep: str, encoding: str, exts: list[str]) -> str:
    sep = "\\t" if core_sep == "\t" else core_sep
    ext_xml = "".join(
        f'<extension encoding="{encoding}" fieldsTerminatedBy="{sep}" '
        'linesTerminatedBy="\\n" ignoreHeaderLines="1" '
        f'rowType="http://rs.gbif.org/terms/1.0/{name}">'
        f"<files><location>{name}.txt</location></files>"
        '<coreid index="0"/></extension>'
        for name in exts
    )
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<archive xmlns="http://rs.tdwg.org/dwc/text/" metadata="eml.xml">'
        f'<core encoding="{encoding}" fieldsTerminatedBy="{sep}" '
        'linesTerminatedBy="\\n" ignoreHeaderLines="1" '
        'rowType="http://rs.tdwg.org/dwc/terms/Occurrence">'
        "<files><location>occurrence.txt</location></files>"
        f'<id index="0"/></core>{ext_xml}</archive>\n'
    )


def _quote(v: str, sep: str) -> str:
    return f'"{v}"' if sep in v else v


def _coord_strings(values: np.ndarray, lo: int) -> list[str]:
    table = [fmt_coord(k) for k in range(lo, -lo + 1)]
    return [table[k] for k in (values - lo).tolist()]


def _polygon(x: int, y: int, size: int) -> str:
    """Closed square ring around (x, y), coordinates in hundredths."""
    pts = [(x, y), (x + size, y), (x + size, y + size), (x, y + size), (x, y)]
    return "POLYGON ((" + ", ".join(
        f"{fmt_coord(a)} {fmt_coord(b)}" for a, b in pts
    ) + "))"


def make_archive(
    rng: np.random.Generator, n_core: int, v: Variant
) -> tuple[bytes, ArchiveRecord]:
    """One DwC-A zip: occurrence core plus ``v.n_ext`` extensions."""
    ids = np.arange(1, n_core + 1) * 7 + int(rng.integers(0, 1000))
    lat = rng.integers(-9000, 9001, n_core)
    lon = rng.integers(-18000, 18001, n_core)
    has_pt = rng.random(n_core) >= 0.05
    has_fp = rng.random(n_core) < v.footprint_frac
    genus = rng.integers(0, len(GENERA), n_core)
    epi = rng.integers(0, len(EPITHETS), n_core)
    day = rng.integers(0, 3650, n_core)
    count = rng.integers(0, 60, n_core)
    sep = v.sep

    headers = ["id", "occurrenceID", "scientificName", "eventDate",
               "decimalLatitude", "decimalLongitude"]
    with_fp = v.footprint_frac > 0
    if with_fp:
        headers.append("footprintWKT")
    headers.append("individualCount")

    lat_txt = _coord_strings(lat, -9000)
    lon_txt = _coord_strings(lon, -18000)
    id_txt = [str(i) for i in ids.tolist()]
    names = [f"{g} {e}" for g in GENERA for e in EPITHETS]
    date_txt = [str(d) for d in np.datetime64("2010-01-01") + np.arange(3650)]
    geoms: list[str | None] = [
        f"POINT ({a} {b})" if p else None
        for a, b, p in zip(lat_txt, lon_txt, has_pt.tolist())
    ]
    cols = [
        id_txt,
        [f"urn:bench:occ:{i}" for i in id_txt],
        [names[k] for k in (genus * len(EPITHETS) + epi).tolist()],
        [date_txt[k] for k in day.tolist()],
        [a if p else "" for a, p in zip(lat_txt, has_pt.tolist())],
        [b if p else "" for b, p in zip(lon_txt, has_pt.tolist())],
    ]
    if with_fp:
        fp_col = [""] * n_core
        for i in np.flatnonzero(has_fp).tolist():
            fp = _polygon(int(lat[i]), int(lon[i]), 50)
            fp_col[i] = _quote(fp, sep)
            geoms[i] = fp
        cols.append(fp_col)
    cols.append([str(c) if c else "" for c in count.tolist()])
    lines = [sep.join(headers), *map(sep.join, zip(*cols))]
    files = {"occurrence.txt": "\n".join(lines) + "\n"}

    weight = np.ones(n_core, dtype=np.int64)
    ext_names = ["measurementorfact", "multimedia"][: v.n_ext]
    for name in ext_names:
        if name == "measurementorfact" and v.fanout_max > 1:
            per = rng.integers(0, v.fanout_max + 1, n_core)
        else:
            per = np.ones(n_core, dtype=np.int64)
        weight *= per
        rows_idx = np.repeat(np.arange(n_core), per)
        vals = rng.integers(0, 100_000, len(rows_idx))
        cid = [id_txt[j] for j in rows_idx.tolist()]
        if name == "measurementorfact":
            hdr = ["coreid", "measurementType", "measurementValue"]
            body = map(sep.join, zip(
                cid,
                [MOF_TYPES[k % len(MOF_TYPES)] for k in vals.tolist()],
                [str(k / 10) for k in vals.tolist()],
            ))
        else:
            hdr = ["coreid", "format", "identifier"]
            body = (
                sep.join((c, "image/jpeg", f"https://media.bench.invalid/{c}/{k}.jpg"))
                for c, k in zip(cid, vals.tolist())
            )
        files[f"{name}.txt"] = sep.join(hdr) + "\n" + "\n".join(body) + "\n"

    buf = io.BytesIO()
    csv_bytes = 0
    with zipfile.ZipFile(buf, "w") as zf:
        members = {"meta.xml": _meta_xml(sep, v.encoding, ext_names).encode()}
        for fname, text in files.items():
            data = text.encode("latin-1" if v.encoding == "ISO-8859-1" else "utf-8")
            csv_bytes += len(data)
            members[fname] = data
        for fname, data in members.items():
            info = zipfile.ZipInfo(fname, date_time=ZIP_TIME)
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, data, compresslevel=1)
    record = ArchiveRecord(
        fid=[str(i) for i in ids],
        geom=geoms,
        weight=weight.tolist(),
        csv_bytes=csv_bytes,
    )
    return buf.getvalue(), record


# --- fake IPT documents ----------------------------------------------------


def rss_xml(resources: list[tuple[str, str, int]]) -> bytes:
    """IPT RSS feed; ``resources`` holds (id, title, version)."""
    items = "".join(
        f"<item><title>{title}</title>"
        f"<link>{IPT_URL}/resource?r={rid}</link>"
        f"<guid>{IPT_URL}/resource?id={rid}/v{ver}</guid>"
        f"<ipt:eml>{IPT_URL}/eml.do?r={rid}</ipt:eml></item>"
        for rid, title, ver in resources
    )
    return (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<rss version="2.0" xmlns:ipt="http://ipt.gbif.org/">'
        f"<channel><title>bench IPT</title>{items}</channel></rss>"
    ).encode()


def eml_xml(rid: str, title: str, version: int, seed_bits: int) -> bytes:
    """GBIF EML for one dataset; ``seed_bits`` picks bbox, keywords and
    creators so every dataset's catalog row differs."""
    r = np.random.default_rng(seed_bits)
    west, south = int(r.integers(-170, 160)), int(r.integers(-80, 70))
    kw = [KEYWORDS[int(k)] for k in r.choice(len(KEYWORDS), 4, replace=False)]
    who = [CREATORS[int(k)] for k in r.choice(len(CREATORS), 2, replace=False)]
    people = "".join(
        f"<{role}><individualName><givenName>{n.split()[0]}</givenName>"
        f"<surName>{n.split()[1]}</surName></individualName></{role}>"
        for role, n in zip(("creator", "metadataProvider"), who)
    )
    return (
        '<?xml version="1.0" encoding="UTF-8"?>'
        '<eml:eml xmlns:eml="eml://ecoinformatics.org/eml-2.1.1" '
        f'packageId="10.99999/bench/{rid}/v{version}">'
        f"<dataset><title>{title}</title>"
        f"<abstract><para>Synthetic occurrence dataset {rid}.</para></abstract>"
        f"<pubDate>2024-0{1 + seed_bits % 9}-1{seed_bits % 9}</pubDate>{people}"
        "<coverage><geographicCoverage><boundingCoordinates>"
        f"<westBoundingCoordinate>{west}</westBoundingCoordinate>"
        f"<eastBoundingCoordinate>{west + 10}</eastBoundingCoordinate>"
        f"<northBoundingCoordinate>{south + 10}</northBoundingCoordinate>"
        f"<southBoundingCoordinate>{south}</southBoundingCoordinate>"
        "</boundingCoordinates></geographicCoverage></coverage>"
        "<keywordSet>" + "".join(f"<keyword>{k}</keyword>" for k in kw[:2])
        + "<keywordThesaurus>GBIF Dataset Type</keywordThesaurus></keywordSet>"
        "<keywordSet>" + "".join(f"<keyword>{k}</keyword>" for k in kw[1:])
        + "<keywordThesaurus>Subjects</keywordThesaurus></keywordSet>"
        "</dataset></eml:eml>"
    ).encode()


@dataclass
class Resource:
    rid: str
    title: str
    variant: Variant
    archive: bytes = field(repr=False)
    record: ArchiveRecord = field(repr=False)
    eml_seed: int = 0


def harvest_variants(n: int) -> list[Variant]:
    """The FIXTURES.md section B mix, in a fixed multiset for every seed:
    separator x encoding x extension count, with 1:N measurementorfact
    whenever that extension is present."""
    combos = [
        Variant(sep=s, encoding=e, n_ext=k, fanout_max=3 if k else 1,
                footprint_frac=0.1 if (i % 2 == 0) else 0.0)
        for i, (s, e, k) in enumerate(
            (s, e, k) for s in SEPARATORS for e in ENCODINGS for k in EXTENSION_COUNTS
        )
    ]
    return [combos[i % len(combos)] for i in range(n)]


def harvest_row_counts(rng: np.random.Generator, n: int, total: int,
                       lo: int = 100, hi: int = 5000) -> list[int]:
    """``n`` core-row counts in [lo, hi] summing to exactly ``total``: a
    geometric ladder from ``lo`` to ``hi`` (so every seed has tiny and large
    archives), jittered by the seed, scaled to the total."""
    if not n * lo <= total <= n * hi:
        raise ValueError("total rows out of range for the archive count")
    ladder = np.geomspace(lo, hi, n) * np.exp(rng.normal(0, 0.1, n))
    counts = np.clip(np.round(ladder * total / ladder.sum()), lo, hi).astype(np.int64)
    while (left := total - int(counts.sum())) != 0:
        room = (hi - counts) if left > 0 else (counts - lo)
        i = int(rng.choice(np.flatnonzero(room > 0)))
        counts[i] += int(np.sign(left)) * min(abs(left), int(room[i]))
    return counts.tolist()


def make_harvest(seed: int, n: int, total_rows: int) -> list[Resource]:
    """``n`` archives in a seeded serving order. The seed draws the row
    counts, but the largest count always goes to the first variant of
    ``harvest_variants`` and so on, so the work per variant stays alike
    across seeds."""
    rng = np.random.default_rng([seed, 2])
    counts = sorted(harvest_row_counts(rng, n, total_rows), reverse=True)
    built = [(v, *make_archive(rng, c, v)) for v, c in zip(harvest_variants(n), counts)]
    out = []
    for i, k in enumerate(rng.permutation(n).tolist()):
        v, blob, rec = built[k]
        out.append(Resource(f"bench-{seed % 1000:03d}-{i:02d}", f"Bench dataset {i}",
                            v, blob, rec, eml_seed=int(rng.integers(0, 2**31))))
    return out
