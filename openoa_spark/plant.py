"""PlantData: a validated catalog of lazy Spark DataFrames for the
seven plant tables, with schema-driven renaming, dtype casting,
analysis-filtered validation, and derived columns/geometry.

Parity targets (behavior only, re-expressed for Spark):
- PlantData container + lifecycle: openoa/plant.py:339-744
- column/dtype validation: openoa/plant.py:217-267, 845-936
- frequency validation: openoa/plant.py:148-191, 938-988
- derived reanalysis columns: openoa/plant.py:1028-1062
- scada energy column: openoa/plant.py:1157-1162
- geometry + matrices + freestream: openoa/plant.py:1064-1117, 1229-1513
- asset-id accessors / single-asset slices: openoa/plant.py:1164-1225

Spark-first differences: tables stay lazy (validation runs as cheap
metadata checks plus at most one aggregation job per table), the
reanalysis dict becomes either a dict of DataFrames or one DataFrame
with a `product` column, and geometry matrices are crossJoin pair
DataFrames (broadcastable dimension data), not dense numpy matrices.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F

from openoa_spark.functions import met
from openoa_spark.operators import geometry as geo
from openoa_spark.operators.timeseries import infer_frequency_seconds
from openoa_spark.schema import PlantMetaData, TableMeta, requirements_for

_TIME_KEYED = {"scada": ["asset_id"], "meter": [], "tower": ["asset_id"],
               "status": ["asset_id"], "curtail": [], "reanalysis": []}


@dataclass
class ValidationError:
    table: str
    kind: str  # "missing" | "dtype" | "frequency"
    detail: str


def _apply_col_map(df: DataFrame, meta: TableMeta) -> DataFrame:
    """Rename user columns to canonical names and cast to canonical
    dtypes — one lazy select (plant.py:314-331 + 881-936 combined)."""
    canonical_dtypes = meta.dtypes
    exprs = []
    for c in df.columns:
        target = meta.col_map.get(c, c)
        if target in canonical_dtypes:
            exprs.append(F.col(c).cast(canonical_dtypes[target]).alias(target))
        else:
            exprs.append(F.col(c).alias(target))
    return df.select(*exprs)


def _missing_columns(df: DataFrame, required: set[str]) -> list[str]:
    return sorted(required - set(df.columns))


class PlantData:
    """Handle over the seven plant tables as lazy Spark DataFrames.

    Tables may be passed as DataFrames or parquet/csv paths; columns
    are renamed to canonical names and cast lazily on attach. With an
    ``analysis_type`` list, :meth:`validate` enforces only what those
    analyses need (plant.py:479-549); ``analysis_type=None`` defers
    validation entirely (plant.py:498-499).
    """

    def __init__(
        self,
        spark: SparkSession,
        metadata: PlantMetaData | dict | str,
        analysis_type: list[str] | str | None = None,
        scada: DataFrame | str | None = None,
        meter: DataFrame | str | None = None,
        tower: DataFrame | str | None = None,
        status: DataFrame | str | None = None,
        curtail: DataFrame | str | None = None,
        asset: DataFrame | str | None = None,
        reanalysis: dict[str, DataFrame | str] | None = None,
        validate: bool = True,
    ):
        self.spark = spark
        self.metadata = PlantMetaData.load(metadata)
        if isinstance(analysis_type, str):
            analysis_type = [analysis_type]
        self.analysis_type = analysis_type

        self.scada = self._load(scada, self.metadata.scada)
        self.meter = self._load(meter, self.metadata.meter)
        self.tower = self._load(tower, self.metadata.tower)
        self.status = self._load(status, self.metadata.status)
        self.curtail = self._load(curtail, self.metadata.curtail)
        self.asset = self._load(asset, self.metadata.asset)
        self.reanalysis: dict[str, DataFrame] = {}
        for product, src in (reanalysis or {}).items():
            meta = self.metadata.reanalysis.get(product, TableMeta("reanalysis"))
            self.reanalysis[product] = self._derive_reanalysis(self._load(src, meta))

        if self.scada is not None:
            self.scada = self._derive_scada_energy(self.scada, self.metadata.scada)

        self._distance_pairs: DataFrame | None = None
        self._direction_pairs: DataFrame | None = None
        # EIA attachment slot (reference plant.py: `eia` dict populated
        # by utils/metadata_fetch.attach_eia_data)
        self.eia: dict = {}

        if validate and self.analysis_type:
            self.validate()

    # ------------------------------------------------------------ load

    def _load(self, src: DataFrame | str | None, meta: TableMeta) -> DataFrame | None:
        """Accept a DataFrame or a parquet/csv path (plant.py:271-291)."""
        if src is None:
            return None
        if isinstance(src, str):
            if src.endswith(".csv"):
                df = self.spark.read.csv(src, header=True, inferSchema=False)
            else:
                df = self.spark.read.parquet(src)
        else:
            df = src
        return _apply_col_map(df, meta)

    # ------------------------------------------------------------ derived

    def _derive_reanalysis(self, df: DataFrame) -> DataFrame:
        """Fill in ws / wd / air-density when the inputs to derive them
        exist and the column doesn't (plant.py:1028-1062)."""
        cols = set(df.columns)
        if "WMETR_HorWdSpd" not in cols and {"WMETR_HorWdSpdU", "WMETR_HorWdSpdV"} <= cols:
            df = df.withColumn(
                "WMETR_HorWdSpd",
                F.sqrt(F.col("WMETR_HorWdSpdU") ** 2 + F.col("WMETR_HorWdSpdV") ** 2),
            )
        cols = set(df.columns)
        if "WMETR_HorWdDir" not in cols and {"WMETR_HorWdSpdU", "WMETR_HorWdSpdV"} <= cols:
            df = df.withColumn(
                "WMETR_HorWdDir",
                met.compute_wind_direction("WMETR_HorWdSpdU", "WMETR_HorWdSpdV"),
            )
        cols = set(df.columns)
        if "WMETR_AirDen" not in cols and {"WMETR_EnvTmp", "WMETR_EnvPres"} <= cols:
            df = df.withColumn(
                "WMETR_AirDen",
                met.compute_air_density("WMETR_EnvTmp", "WMETR_EnvPres"),
            )
        return df

    def _derive_scada_energy(self, df: DataFrame, meta: TableMeta) -> DataFrame:
        """WTUR_SupWh = power × interval-hours (plant.py:1157-1162)."""
        if "WTUR_SupWh" in df.columns or "WTUR_W" not in df.columns:
            return df
        freq_s = meta.frequency_seconds or 600.0
        return df.withColumn("WTUR_SupWh", F.col("WTUR_W") * F.lit(freq_s / 3600.0))

    # ------------------------------------------------------------ validate

    def validate(self, analysis_type: list[str] | None = None) -> None:
        """Raise ValueError listing every problem the requested
        analyses care about (plant.py:991-1026 / 36-145). Missing
        columns and frequency mismatches are checked; frequency is
        inferred from data (mode of time deltas) when not declared."""
        types = analysis_type or self.analysis_type
        errors = self.validation_errors(types)
        if errors:
            lines = [f"`{e.table}` {e.kind}: {e.detail}" for e in errors]
            raise ValueError(
                "PlantData validation failed for analysis types "
                f"{types}:\n" + "\n".join(lines)
            )

    def validation_errors(self, analysis_type: list[str] | None = None) -> list[ValidationError]:
        reqs = requirements_for(analysis_type or self.analysis_type)
        errors: list[ValidationError] = []
        for table, (cols, max_period_s) in reqs.items():
            frames: list[tuple[str, DataFrame | None, TableMeta]]
            if table == "reanalysis":
                if not self.reanalysis:
                    errors.append(ValidationError(table, "missing", "no reanalysis products"))
                    continue
                frames = [
                    (f"reanalysis[{p}]", df, self.metadata.reanalysis.get(p, TableMeta("reanalysis")))
                    for p, df in self.reanalysis.items()
                ]
            else:
                frames = [(table, getattr(self, table), self.metadata.table(table))]
            for label, df, meta in frames:
                if df is None:
                    errors.append(ValidationError(label, "missing", "table not provided"))
                    continue
                miss = _missing_columns(df, set(cols))
                if miss:
                    errors.append(ValidationError(label, "missing", ", ".join(miss)))
                if max_period_s is not None and "time" in df.columns:
                    freq_s = meta.frequency_seconds
                    if freq_s is None:
                        keys = [k for k in _TIME_KEYED.get(table, []) if k in df.columns]
                        freq_s = infer_frequency_seconds(df, "time", keys or None)
                    if freq_s is None or freq_s > max_period_s:
                        errors.append(ValidationError(
                            label, "frequency",
                            f"period {freq_s}s coarser than required {max_period_s}s",
                        ))
        return errors

    # ------------------------------------------------------------ accessors

    def _asset_ids(self, kind: str | None = None) -> list[str]:
        df = self.asset
        if df is None:
            return []
        if kind is not None and "type" in df.columns:
            df = df.where(F.col("type") == kind)
        # one collect of a dimension-sized column, deduped and sorted
        # here: Spark's ascending order (NULL first, UTF-8 bytes, i.e.
        # code points) without distinct/orderBy's extra jobs
        ids = {r["asset_id"] for r in df.select("asset_id").collect()}
        return [None] * (None in ids) + sorted(ids - {None})

    @property
    def asset_ids(self) -> list[str]:
        return self._asset_ids()

    @property
    def turbine_ids(self) -> list[str]:
        return self._asset_ids("turbine")

    @property
    def tower_ids(self) -> list[str]:
        return self._asset_ids("tower")

    def turbine_df(self, turbine_id: str) -> DataFrame:
        """Single-turbine scada slice (plant.py:1178-1189)."""
        return self.scada.where(F.col("asset_id") == turbine_id)

    def tower_df(self, tower_id: str) -> DataFrame:
        return self.tower.where(F.col("asset_id") == tower_id)

    # ------------------------------------------------------------ geometry

    def parse_asset_geometry(self) -> None:
        """Append planar (x_m, y_m) to the asset dim (plant.py:1064-1117)."""
        if self.asset is not None and "x_m" not in self.asset.columns:
            self.asset = geo.utm_from_latlon(self.asset)

    @property
    def asset_distance_pairs(self) -> DataFrame:
        if self._distance_pairs is None:
            self.parse_asset_geometry()
            self._distance_pairs = geo.asset_distance_pairs(self.asset).cache()
        return self._distance_pairs

    @property
    def asset_direction_pairs(self) -> DataFrame:
        if self._direction_pairs is None:
            self.parse_asset_geometry()
            self._direction_pairs = geo.asset_direction_pairs(self.asset).cache()
        return self._direction_pairs

    def get_freestream_turbines(
        self,
        wind_direction_deg: float,
        sector_width_deg: float = 90.0,
        freestream_method: str = "sector",
    ) -> list[str]:
        turbines = set(self.turbine_ids)
        pairs_d = self.asset_distance_pairs
        pairs_b = self.asset_direction_pairs
        if turbines:
            pairs_d = pairs_d.where(
                F.col("asset_a").isin(turbines) & F.col("asset_b").isin(turbines)
            )
            pairs_b = pairs_b.where(
                F.col("asset_a").isin(turbines) & F.col("asset_b").isin(turbines)
            )
        rd = None
        if freestream_method == "IEC":
            rd = self.asset.select("asset_id", "rotor_diameter")
        return geo.freestream_turbines(
            pairs_d, pairs_b, wind_direction_deg, sector_width_deg,
            method=freestream_method, rotor_diameters=rd,
        )

    def nearest_turbine(self, asset_id: str) -> str | None:
        """Closest turbine to the given asset (plant.py:1452-1513)."""
        return self._nearest(asset_id, self.turbine_ids)

    def nearest_tower(self, asset_id: str) -> str | None:
        return self._nearest(asset_id, self.tower_ids)

    def _nearest(self, asset_id: str, candidates: list[str]) -> str | None:
        cands = [c for c in candidates if c != asset_id]
        if not cands:
            return None
        row = (
            self.asset_distance_pairs
            .where((F.col("asset_a") == asset_id) & F.col("asset_b").isin(cands))
            .orderBy(F.asc("distance_m"), F.asc("asset_b"))
            .select("asset_b")
            .first()
        )
        return row["asset_b"] if row else None

    # ------------------------------------------------------------ export

    def to_parquet(self, save_path: str, metadata: str = "metadata") -> None:
        """Write every attached table under save_path/<table>.parquet
        (parquet is the Spark-native interchange format) plus a
        canonical metadata file so :meth:`from_parquet` round-trips."""
        for name in ("scada", "meter", "tower", "status", "curtail", "asset"):
            df = getattr(self, name)
            if df is not None:
                df.write.mode("overwrite").parquet(f"{save_path}/{name}.parquet")
        for product, df in self.reanalysis.items():
            df.write.mode("overwrite").parquet(f"{save_path}/reanalysis_{product}.parquet")

        import json
        from pathlib import Path

        Path(save_path, f"{metadata}.json").write_text(
            json.dumps(self.metadata.to_dict(canonical=True))
        )

    @classmethod
    def from_parquet(
        cls,
        spark: SparkSession,
        load_path: str,
        metadata: str = "metadata",
        analysis_type: list[str] | str | None = None,
    ) -> "PlantData":
        """Re-load a :meth:`to_parquet` export: tables discovered by
        ``<table>.parquet`` directory name, reanalysis products by the
        ``reanalysis_<product>.parquet`` prefix, metadata from the
        exported canonical file. Parquet keeps types, so no cast pass
        is needed — this is the zero-copy-shaped interchange between
        engine sessions (and the fast path a warehouse would use)."""
        from pathlib import Path

        root = Path(load_path)
        meta_file = next(
            (root / f"{metadata}{ext}" for ext in (".json", ".yml", ".yaml")
             if (root / f"{metadata}{ext}").is_file()),
            None,
        )
        if meta_file is None:
            raise FileNotFoundError(f"no {metadata}.json/.yml under {load_path}")
        meta = PlantMetaData.load(str(meta_file))

        def read(name: str):
            p = root / f"{name}.parquet"
            return spark.read.parquet(str(p)) if p.exists() else None

        reanalysis = {
            p.name[len("reanalysis_"):-len(".parquet")]: spark.read.parquet(str(p))
            for p in sorted(root.glob("reanalysis_*.parquet"))
        }
        return cls(
            spark,
            meta,
            analysis_type=analysis_type,
            scada=read("scada"),
            meter=read("meter"),
            tower=read("tower"),
            status=read("status"),
            curtail=read("curtail"),
            asset=read("asset"),
            reanalysis=reanalysis or None,
        )

    def to_csv(
        self,
        save_path: str,
        with_openoa_col_names: bool = True,
        metadata: str = "metadata",
    ) -> None:
        """CSV export with a metadata file, matching the reference's
        round-trip contract (plant.py:746-843): each attached table is
        written under ``save_path/<table>/`` (a header-ed CSV
        directory — one file per partition, the distributed-write
        shape), and ``<metadata>.yml`` (or .json when pyyaml is
        absent) captures column maps + frequencies so
        ``PlantData(spark, metadata=..., scada=...)`` can re-load the
        export. ``with_openoa_col_names=False`` renames columns back
        to the user's original names, and the metadata file records
        that mapping.
        """

        def rename_back(df: DataFrame, meta) -> DataFrame:
            if with_openoa_col_names:
                return df
            inv = {v: k for k, v in meta.col_map.items()}  # canonical → user
            return df.select(*[F.col(c).alias(inv.get(c, c)) for c in df.columns])

        for name in ("scada", "meter", "tower", "status", "curtail", "asset"):
            df = getattr(self, name)
            if df is not None:
                out = rename_back(df, self.metadata.table(name))
                out.write.option("header", True).mode("overwrite").csv(
                    f"{save_path}/{name}"
                )
        for product, df in self.reanalysis.items():
            meta = self.metadata.reanalysis.get(product, TableMeta("reanalysis"))
            rename_back(df, meta).write.option("header", True).mode(
                "overwrite"
            ).csv(f"{save_path}/reanalysis_{product}")

        meta_dict = self.metadata.to_dict(canonical=with_openoa_col_names)
        from pathlib import Path

        try:
            import yaml

            Path(f"{save_path}/{metadata}.yml").write_text(
                yaml.safe_dump(meta_dict, sort_keys=False)
            )
        except ImportError:  # pragma: no cover
            import json

            Path(f"{save_path}/{metadata}.json").write_text(json.dumps(meta_dict))

    @classmethod
    def from_csv(
        cls,
        spark: SparkSession,
        load_path: str,
        metadata: str = "metadata",
        analysis_type: list[str] | str | None = None,
        validate: bool = True,
    ) -> "PlantData":
        """Re-load a :meth:`to_csv` export (the inverse round-trip;
        reference contract plant.py:746-843, and the engine-native
        analog of ``from_entr``'s warehouse loading — a directory of
        tables + a metadata file in, a validated PlantData out).

        Tables are discovered by directory name under ``load_path``.
        CSV carries no types, so everything reads as string; the
        constructor's column-map pass renames user columns to
        canonical ones AND casts them to the canonical dtypes from
        the schema registry (_apply_col_map), which restores the
        typed schema.
        """
        from pathlib import Path

        root = Path(load_path)
        meta_file = next(
            (root / f"{metadata}{ext}" for ext in (".yml", ".yaml", ".json")
             if (root / f"{metadata}{ext}").is_file()),
            None,
        )
        if meta_file is None:
            raise FileNotFoundError(f"no {metadata}.yml/.json under {load_path}")
        meta = PlantMetaData.load(str(meta_file))

        def read(name: str):
            d = root / name
            if not d.is_dir():
                return None
            return spark.read.option("header", True).csv(str(d))

        reanalysis = {}
        for d in root.iterdir():
            if d.is_dir() and d.name.startswith("reanalysis_"):
                reanalysis[d.name.removeprefix("reanalysis_")] = (
                    spark.read.option("header", True).csv(str(d))
                )
        return cls(
            spark,
            meta,
            analysis_type=analysis_type,
            scada=read("scada"),
            meter=read("meter"),
            tower=read("tower"),
            status=read("status"),
            curtail=read("curtail"),
            asset=read("asset"),
            reanalysis=reanalysis or None,
            validate=validate,
        )

    @classmethod
    def from_entr(cls, *args, **kwargs) -> "PlantData":
        """Load a plant from an ENTR warehouse via the optional
        ``py-entr`` plugin — the reference's exact delegation contract
        (reference plant.py:1515-1524: import ``entr.plantdata
        .from_entr``, else raise NotImplementedError pointing at the
        installer; arguments pass through untouched). No plugin logic
        is reimplemented here — there is none to reimplement; the
        reference body IS the import + delegation below. Tested
        through an injected stand-in module, same seam discipline as
        the multimodal codec."""
        try:
            from entr.plantdata import from_entr as _entr_loader
        except ModuleNotFoundError:
            raise NotImplementedError(
                "The entr python package was not found. Install py-entr "
                "(https://github.com/entralliance/py-entr) to load from "
                "an ENTR warehouse."
            )
        return _entr_loader(*args, **kwargs)

    def reanalysis_union(self) -> DataFrame | None:
        """All reanalysis products as ONE DataFrame with a `product`
        column — the Spark-preferred layout for partition pruning at
        scale (survey §1.4)."""
        frames = [
            df.withColumn("product", F.lit(p)) for p, df in self.reanalysis.items()
        ]
        if not frames:
            return None
        out = frames[0]
        for f2 in frames[1:]:
            out = out.unionByName(f2, allowMissingColumns=True)
        return out

    def create_views(self, prefix: str = "") -> list[str]:
        """Register every loaded table as a session temp view
        (``scada``, ``meter``, ``tower``, ``status``, ``curtail``,
        ``asset``, ``reanalysis`` — the last as the unioned
        product-column layout) so users can query the plant with raw
        ``spark.sql``. Views are lazy references, not copies; returns
        the view names registered. ``prefix`` namespaces them when
        several plants share a session."""
        names = []
        for name in ("scada", "meter", "tower", "status", "curtail", "asset"):
            df = getattr(self, name)
            if df is not None:
                df.createOrReplaceTempView(prefix + name)
                names.append(prefix + name)
        rea = self.reanalysis_union()
        if rea is not None:
            rea.createOrReplaceTempView(prefix + "reanalysis")
            names.append(prefix + "reanalysis")
        return names
