"""Export options — the engine's "query language".

Mirrors the reference CLI surface (reference src/Options.cs:5-55), which is
the complete user-facing query API of i3dm.export: there is no planner, so
these options plus a SQL predicate passthrough enumerate every behavior.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class ExportOptions:
    """One-to-one with reference src/Options.cs defaults."""

    # reference -g/--geometricerror (src/Options.cs:16-17)
    geometric_error: float = 1000.0
    # reference --max_features_per_tile (src/Options.cs:28-29)
    max_features_per_tile: int = 1000
    # reference --boundingvolume_heights "0,10" (src/Options.cs:22-23)
    boundingvolume_heights: tuple[float, float] = (0.0, 10.0)
    # reference -q/--query raw SQL predicate passthrough (src/Options.cs:25-26);
    # here a Spark SQL boolean expression applied via F.expr (P2)
    query: str = ""
    # reference --use_clustering (src/Options.cs:51-52)
    use_clustering: bool = False
    # reference --use_i3dm / --use_gpu_instancing (src/Options.cs:31-32,45-46)
    use_i3dm: bool = False
    use_gpu_instancing: bool = False
    # reference --keep_projection (src/Options.cs:40-41)
    keep_projection: bool = False
    # source CRS of the input x/y columns (reference probes ST_SRID and
    # reprojects in-scan, src/SpatialReferenceRepository.cs:6-12,
    # src/InstancesRepository.cs:42,52); under keep_projection the source
    # coordinates pass through untransformed, matching the reference
    source_epsg: int = 4326
    # reference --use_scale_non_uniform (src/Options.cs:34-35)
    use_scale_non_uniform: bool = False
    # reference --use_external_model (src/Options.cs:48-49)
    use_external_model: bool = False
    # reference --tileset_version (src/Options.cs:37-38)
    tileset_version: str = ""
    # output directory (reference -o, src/Options.cs:19-20)
    output: str = "./output"

    # ---- engine-only scale knobs (no reference equivalent) ----
    # deepest quadtree level the tree builder descends to (safety bound;
    # the reference recursion is unbounded, src/ImplicitTiling.cs:33-113)
    max_level: int = 20
    # deterministic seed for the MiniBatchKMeans LOD reducer; the reference
    # RNG is unseeded (src/TileClustering.cs:19-26, SURVEY.md §7 hazard 3)
    cluster_seed: int = 42
    # cells whose count exceeds this multiple of max_features_per_tile are
    # treated as skewed and salted before per-tile work
    skew_salt_threshold: float = 8.0
    skew_salt_buckets: int = 16

    def __post_init__(self):
        if self.use_gpu_instancing and self.use_external_model:
            # reference src/Program.cs:50-55
            raise ValueError("GPU instancing and external model cannot be used together")
        if self.use_gpu_instancing and self.use_i3dm:
            # reference src/Program.cs:57-61
            raise ValueError("GPU instancing and use_i3dm cannot be used together")

    @property
    def content_extension(self) -> str:
        # reference src/ImplicitTiling.cs:124-128
        if self.use_gpu_instancing:
            return "glb"
        return "i3dm" if self.use_i3dm else "cmpt"


@dataclass
class Bounds:
    """Root bbox + vertical range (reference's BoundingBox + zmin/zmax)."""

    xmin: float
    ymin: float
    xmax: float
    ymax: float
    zmin: float = 0.0
    zmax: float = 0.0

    @property
    def bbox(self) -> tuple[float, float, float, float]:
        return (self.xmin, self.ymin, self.xmax, self.ymax)

    def area(self) -> float:
        # reference src/extensions/BoundingBoxExtensions.cs:8-14
        return (self.xmax - self.xmin) * (self.ymax - self.ymin)

    def center(self) -> tuple[float, float]:
        # reference src/extensions/BoundingBoxExtensions.cs:16-21
        return ((self.xmax + self.xmin) / 2.0, (self.ymax + self.ymin) / 2.0)

    def to_region(self, radians: bool = True) -> list[float]:
        # reference src/extensions/BoundingBoxExtensions.cs:23-35
        import math

        if radians:
            f = math.pi / 180.0
            return [
                self.xmin * f, self.ymin * f, self.xmax * f, self.ymax * f,
                self.zmin, self.zmax,
            ]
        return [self.xmin, self.ymin, self.xmax, self.ymax, self.zmin, self.zmax]
