"""HDF5/NeXus ingestion (S3–S5, S8, S9): flatten per-repetition files
into DataFrame columns via a declarative path→column mapping.

Reference: every process step hard-codes absolute HDF5 paths and reads
them defensively — scalar floats degrade to 0.0, arrays collapse via
mean, strings degrade to '' (src/utilities.py:11-63); the two
translator steps are declarative path remaps driven by YAML templates
(src/processstep_translator_step_1.py:33-43,
src/processstep_translator_step_2.py:33-43).

Spark design: Spark has no native HDF5 reader, so ingestion is a
``mapInPandas`` over the file manifest — each task opens its partition's
files with h5py and emits one flat row per file. From there on
everything is columnar Parquet. The path→column mapping is an explicit
``HDF5Mapping`` (the engine's replacement for the reference's YAML
translator templates + per-step path dicts), and the defensive
coercions are reproduced exactly because downstream physics branches on
the sentinels (SURVEY.md §1.2).

h5py is not available in every environment (not in this container):
the reader is import-gated, and ``read_h5_value`` accepts a plain-dict
fake tree so the flattening/coercion logic is fully testable without
the library.
"""

from __future__ import annotations

from collections.abc import Iterator, Mapping
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

try:  # pragma: no cover - exercised only where h5py is installed
    import h5py  # type: ignore
except ImportError:  # pragma: no cover
    h5py = None


def open_h5(path: str):
    """Open an HDF5 file for reading: h5py when installed (full-format
    coverage), else the vendored classic-format reader
    (:mod:`.minihdf5` — the libhdf5-default subset, which is all the
    reference's per-repetition files use; anything fancier raises
    ``UnsupportedHDF5Feature`` loudly). Both returns support the same
    traversal surface ``flatten_tree`` consumes and both are context
    managers."""
    if h5py is not None:  # pragma: no cover - h5py absent here
        return h5py.File(path, "r")
    from mousedatapipeline_spark.sources.minihdf5 import MiniH5File
    return MiniH5File(path)


@dataclass(frozen=True)
class HDF5Mapping:
    """Declarative path→column spec (translator-template equivalent).

    kind: 'float' (mean-if-array, 0.0 on failure — src/utilities.py:11-32),
          'string' ('' on failure — :35-45),
          'float_array' (flattened list, None on failure).
    """
    source_path: str
    column: str
    kind: str = "float"
    unit: str | None = None  # carried into column metadata (pint stand-in)

    def spark_field(self) -> T.StructField:
        dtype: T.DataType
        if self.kind == "float":
            dtype = T.DoubleType()
        elif self.kind == "string":
            dtype = T.StringType()
        elif self.kind == "float_array":
            dtype = T.ArrayType(T.DoubleType())
        else:
            raise ValueError(f"unknown kind {self.kind!r}")
        meta = {"hdf5_path": self.source_path}
        if self.unit:
            meta["unit"] = self.unit
        return T.StructField(self.column, dtype, True, metadata=meta)


@dataclass(frozen=True)
class IngestSchema:
    """A set of mappings plus the repetition key columns."""
    mappings: tuple[HDF5Mapping, ...]
    key_columns: tuple[str, ...] = ("ymd", "batch", "repetition")

    def spark_schema(self) -> T.StructType:
        keys = [
            T.StructField("ymd", T.StringType(), False),
            T.StructField("batch", T.IntegerType(), False),
            T.StructField("repetition", T.IntegerType(), False),
        ]
        return T.StructType(keys + [m.spark_field() for m in self.mappings])


def _mean_if_array(value):
    """src/utilities.py:18-19 — array-valued scalar reads collapse via
    mean (semantics depended on downstream, so reproduced exactly)."""
    import numpy as np

    arr = np.asarray(value, dtype="float64")
    return float(arr.mean()) if arr.ndim > 0 else float(arr)


def read_h5_value(tree, path: str, kind: str):
    """Defensive read of one dataset from an (h5py or dict) tree.

    Coercions (src/utilities.py:11-63): float → mean-if-array, 0.0 on
    missing/unparseable; string → UTF-8 decode, '' on failure;
    float_array → flat list, None on failure.
    """
    try:
        node = tree
        for part in path.strip("/").split("/"):
            node = node[part]
        value = node[()] if hasattr(node, "shape") else node
        if kind == "float":
            return _mean_if_array(value)
        if kind == "string":
            if isinstance(value, bytes):
                return value.decode("utf-8")
            return str(value)
        if kind == "float_array":
            import numpy as np

            return [float(x) for x in np.asarray(value, dtype="float64").ravel()]
        raise ValueError(f"unknown kind {kind!r}")
    except (KeyError, TypeError, ValueError, IndexError):
        return {"float": 0.0, "string": "", "float_array": None}[kind]


def read_h5_units(tree, path: str) -> str | None:
    """The dataset's ``units`` attribute, decoded — the NeXus metadata
    the reference turns into pint quantities
    (src/utilities.py:55-59: ``h5f[path].attrs.get('units', ...)``).
    Returns None when the node, its ``.attrs``, or the key is absent
    (dict-fake trees have no attrs; most fixtures carry none)."""
    try:
        node = tree
        for part in path.strip("/").split("/"):
            node = node[part]
        units = getattr(node, "attrs", {}).get("units")
        if isinstance(units, bytes):
            units = units.decode("utf-8")
        return units if units is None else str(units)
    except (KeyError, TypeError, AttributeError, IndexError):
        return None


# Equivalent spellings of the NeXus units the MOUSE files carry
# (ADVICE r08): pint accepts all of these as the SAME unit
# (src/utilities.py get_pint_quantity_from_h5 never hard-fails on
# spelling), so neither may the exact-string check below. Keys are
# lower-cased, space-stripped spellings; values are the canonical
# token compared. Deliberately NOT a converter: "mm" vs "m" stays a
# loud mismatch — only magnitude-IDENTICAL spellings alias.
_UNIT_ALIASES = {
    "angstrom": "angstrom", "angstroms": "angstrom", "å": "angstrom",
    "ångström": "angstrom", "aa": "angstrom",
    "nm": "nm", "nanometer": "nm", "nanometers": "nm",
    "nanometre": "nm", "nanometres": "nm",
    "um": "um", "µm": "um", "μm": "um", "micron": "um", "microns": "um",
    "micrometer": "um", "micrometre": "um",
    "micrometers": "um", "micrometres": "um",
    "mm": "mm", "millimeter": "mm", "millimeters": "mm",
    "millimetre": "mm", "millimetres": "mm",
    "cm": "cm", "centimeter": "cm", "centimetre": "cm",
    "centimeters": "cm", "centimetres": "cm",
    "m": "m", "meter": "m", "meters": "m", "metre": "m", "metres": "m",
    "1/s": "1/s", "s**-1": "1/s", "s^-1": "1/s", "s⁻¹": "1/s",
    "hz": "1/s", "hertz": "1/s", "counts/s": "1/s", "cps": "1/s",
    "s": "s", "sec": "s", "second": "s", "seconds": "s",
    "ms": "ms", "millisecond": "ms", "milliseconds": "ms",
    "ev": "ev", "electronvolt": "ev", "electron_volt": "ev",
    "electronvolts": "ev",
    "kev": "kev", "kiloelectronvolt": "kev", "kiloelectronvolts": "kev",
    "deg": "deg", "degree": "deg", "degrees": "deg", "°": "deg",
    "rad": "rad", "radian": "rad", "radians": "rad",
    "": "", "dimensionless": "", "unitless": "", "1": "",
    "nx_dimensionless": "",
}


def normalize_unit(u: str) -> str:
    """Canonical token for a NeXus unit spelling: lower-cased,
    whitespace around OPERATORS stripped ("1 / s" == "1/s"), aliased
    through :data:`_UNIT_ALIASES`; unknown spellings canonicalize to
    themselves (so two files agreeing on an exotic unit still pass,
    and a genuine contradiction still raises).

    Whitespace between BARE tokens is never collapsed (ADVICE r09):
    "m s" must not alias to "ms" — a magnitude-wrong pairing the
    exact-string check would otherwise silently pass. Spellings with
    internal spaces and no operator compare as their single-spaced
    lowercase form, so they only match the same spaced spelling —
    a contradiction stays a loud raise, never a silent accept."""
    base = " ".join(u.strip().lower().split())
    key = base.replace(" ", "")
    if base != key and not any(op in base for op in "/*^·⁻"):
        return base
    return _UNIT_ALIASES.get(key, key)


def flatten_tree(tree, schema: IngestSchema,
                 keys: Mapping[str, object]) -> dict:
    """One HDF5 tree (or dict fake) → one flat row dict.

    Unit contract: when BOTH the mapping config declares a unit and
    the file carries a ``units`` attribute on that dataset, they must
    agree UP TO SPELLING (:func:`normalize_unit` — "1/s" vs "s**-1"
    vs "Hz" all pass, mirroring how the reference's pint conversion
    accepts them, src/utilities.py:55-59) — a genuinely contradictory
    pair ("angstrom" vs "nm") still raises loudly, naming path and
    both spellings, instead of silently trusting either side, because
    downstream physics (functions/physics.py) assumes the config
    units (SURVEY.md §1.2 sentinel ethos). Files or fakes without
    attrs skip the check.
    """
    row = dict(keys)
    for m in schema.mappings:
        if m.unit is not None:
            file_units = read_h5_units(tree, m.source_path)
            if (file_units is not None
                    and normalize_unit(file_units)
                    != normalize_unit(m.unit)):
                raise ValueError(
                    f"unit mismatch at {m.source_path}: file says "
                    f"{file_units!r}, mapping config says {m.unit!r} "
                    f"(column {m.column!r})")
        row[m.column] = read_h5_value(tree, m.source_path, m.kind)
    return row


def ingest_hdf5(manifest: DataFrame, schema: IngestSchema,
                path_col: str = "path") -> DataFrame:
    """S3–S5/S8/S9 — distributed HDF5 → columnar flattening.

    ``mapInPandas`` over the manifest: each task opens its files with
    h5py and yields flat rows. Output lands as ordinary columns, so all
    downstream steps are pure Catalyst expressions and Parquet gets
    column pruning + predicate pushdown that the reference's HDF5 reads
    could never have.

    Files open via :func:`open_h5`: h5py at executor runtime when
    installed, else the vendored classic-format reader — so real
    ``.h5`` bytes flow end-to-end even in h5py-less environments.
    """
    out_schema = schema.spark_schema()
    key_cols = list(schema.key_columns)
    cols = [path_col, *key_cols]

    def read_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rec in pdf.itertuples(index=False):
                rec = rec._asdict()
                with open_h5(rec[path_col]) as f:
                    rows.append(flatten_tree(
                        f, schema, {k: rec[k] for k in key_cols}))
            yield pd.DataFrame(rows, columns=[f.name for f in out_schema])

    return manifest.select(*cols).mapInPandas(read_partition, out_schema)


# The canonical MOUSE per-repetition schema: the paths every step reads
# (flux/transmission inputs, geometry, identifiers). Cited per line.
MOUSE_SCHEMA = IngestSchema(mappings=(
    # src/processstep_calc_beam_flux_and_transmissions.py:170-189
    HDF5Mapping("/entry/instrument/detector00/data", "detector_data",
                "float_array"),
    HDF5Mapping("/entry/instrument/detector00/count_time", "count_time",
                "float", unit="s"),
    HDF5Mapping("/entry/sample/beam/flux", "flux", "float", unit="1/s"),
    HDF5Mapping("/entry/sample/transmission", "transmission", "float"),
    # src/processstep_metadata_update.py:51-87
    HDF5Mapping("/entry/instrument/monochromator/wavelength", "wavelength",
                "float", unit="nm"),
    # src/processstep_make_beam_mask.py:19-24
    HDF5Mapping("/entry/instrument/detector00/transformations/det_x",
                "det_x", "float", unit="m"),
    HDF5Mapping("/entry/sample/transformations/sample_x", "sample_x",
                "float", unit="m"),
    # src/processstep_metadata_update.py:217-235
    HDF5Mapping("/entry/sample/name", "sample_name", "string"),
    HDF5Mapping("/entry/experiment_identifier", "proposal", "string"),
))
