"""Trained-index persistence for the ANN ladder: build ONCE, serve many.

Every index build in :mod:`operators.similarity` returns its trained
artifacts as driver-side Python values (IVF centroids, PQ codebooks, the
OPQ permutation, SQ/BQ calibration scalars) plus one or more stored
relations (assignment/code tables). Production never retrains per query
— the 100 TB shape is: one training job writes the index to storage, a
fleet of serving jobs loads it. This module is that split on plain
parquet + JSON:

- :func:`save_index` / :func:`load_index` — generic persistence of any
  ladder tier: artifacts land in a VERSIONED ``manifest.json`` (format
  version, index kind, build params, the artifact values themselves —
  all driver-bounded by construction: k×dim centroid ints, m×k×sub
  codebook ints, one vmax scalar), stored relations land as parquet
  under ``tables/`` with their schema recorded in the manifest so a
  load can validate the pairing without scanning data.
- :func:`build_knn_index` — the trainer for the ``cli knn`` tiers
  (bq / sq / ivfsq / ivfpq_res): runs the tier's build job(s) and
  persists everything the serve path needs.
- :func:`serve_knn` — the server: loads artifacts + code tables and
  answers queries WITHOUT re-running any training job (no Lloyd, no
  calibration scan — regression-pinned in tests by making the trainers
  unreachable during serve). Results are bit-equal to an in-session
  build+search because every artifact is integer-exact and round-trips
  JSON losslessly.
- :func:`extend_index` / :func:`recall_drift` (round 16) — crawl-over-
  crawl growth: encode-only generation appends against the frozen
  artifacts (``generations/gen=N`` slices unioned at load), plus the
  per-generation recall telemetry and documented retrain trigger that
  decide when the frozen codebooks have drifted enough for a true
  rebuild.

Reference parity: the reference engine (6 Java MapReduce classes) has no
ANN surface at all — this is part of the LLM-data-pipeline extension
(SURVEY.md §2 north star). The build-once/serve-many split itself is the
standard vector-store deployment shape (FAISS ``write_index`` /
``read_index``), re-expressed as parquet tables + a JSON manifest so the
stored index stays a first-class Spark relation.
"""

from __future__ import annotations

import dataclasses
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

FORMAT_VERSION = 1

#: Index kinds build_knn_index knows how to train and serve_knn how to
#: answer. Each maps to the similarity-module functions used. "ivf" is
#: the full-precision tier (the exact-scoring baseline whose index IS
#: the cluster-assigned corpus); the byte-code tiers follow the ladder;
#: "opq_ivfpq" is the residual tier with the OPQ variance-balancing
#: permutation in front (the permutation persists as one more integer
#: artifact — dimension order is part of the trained index).
KNN_KINDS = ("ivf", "bq", "sq", "ivfsq", "ivfpq_res", "opq_ivfpq")


#: The one stored relation each tier's searches scan — the relation
#: :func:`extend_index` appends generation slices to.
KIND_TABLE = {
    "ivf": "assigned",
    "bq": "index",
    "sq": "index",
    "ivfsq": "index",
    "ivfpq_res": "codes",
    "opq_ivfpq": "codes",
}


#: Subdirectory holding encode-only generation appends; each committed
#: generation is ``generations/gen=N/<table>`` parquet plus a
#: ``_META.json`` commit marker written LAST (a crashed encode leaves a
#: marker-less dir that loads skip and later extends number past).
GENERATIONS_DIR = "generations"
_GEN_META = "_META.json"


@dataclasses.dataclass
class AnnIndex:
    """A loaded index: trained artifacts + lazily-read stored relations.

    ``tables[KIND_TABLE[kind]]`` is the FULL searchable relation — the
    base build unioned with every committed generation slice — so the
    serve paths need no generation awareness. ``generations`` keeps the
    per-slice handles (generation 0 = the base build) for telemetry
    such as :func:`recall_drift`.

    For the ``ivfpq_res`` / ``opq_ivfpq`` tiers ``_parts`` holds the
    query-independent parts of the kNN plan (``similarity._ivfpq_parts``:
    the codes projection, the query's micro-unit column, the ADC score
    and the top-k window), built once here so that :func:`serve_knn`
    rebuilds none of them per query; they go away with the index."""

    kind: str
    params: dict
    artifacts: dict
    tables: dict[str, DataFrame]
    path: str
    generations: list = dataclasses.field(default_factory=list)
    _parts: object = dataclasses.field(default=None, repr=False, compare=False)


def save_index(
    index_dir: str,
    kind: str,
    params: dict,
    artifacts: dict,
    tables: dict[str, DataFrame] | None = None,
) -> str:
    """Persist one trained index. ``artifacts`` must be plain JSON
    values (ints/lists — every trainer in this module already returns
    exactly that; floats would NOT round-trip exactly and are refused).
    ``tables`` are written as parquet under ``tables/<name>`` and their
    schemas recorded in the manifest, pairing the artifact values with
    the code/assignment relations they were trained with. Refuses to
    overwrite an existing manifest — an index is a versioned artifact
    (ship a new directory per rebuild, like a benchmark Bloom filter or
    a crawl generation)."""
    manifest_path = f"{index_dir}/manifest.json"
    if os.path.exists(manifest_path):
        raise FileExistsError(
            f"{manifest_path} already exists; an index is an immutable "
            "versioned artifact — write the rebuild to a new directory"
        )
    _assert_json_ints(artifacts, "artifacts")
    table_meta = {}
    for name, df in (tables or {}).items():
        path = f"{index_dir}/tables/{name}"
        df.write.mode("error").parquet(path)
        table_meta[name] = {"schema": df.schema.simpleString()}
    manifest = {
        "format_version": FORMAT_VERSION,
        "kind": kind,
        "params": params,
        "artifacts": artifacts,
        "tables": table_meta,
    }
    os.makedirs(index_dir, exist_ok=True)
    tmp = f"{manifest_path}.tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, sort_keys=True)
    # manifest lands LAST and atomically: a crashed build leaves table
    # dirs but no manifest, and load_index refuses a manifest-less dir —
    # no torn index can ever serve
    os.rename(tmp, manifest_path)
    return index_dir


def _assert_json_ints(obj, where: str) -> None:
    """Artifacts must survive a JSON round-trip EXACTLY — the serve
    path's bit-equality contract rides on it. Integer-exact trainers
    guarantee this; a float sneaking in (e.g. a non-``units`` build)
    would silently break it, so refuse loudly."""
    if isinstance(obj, bool) or isinstance(obj, float):
        raise TypeError(
            f"{where}: only exact-integer artifacts persist losslessly "
            f"(got {type(obj).__name__}); build with units= (micro-unit "
            "integer mode) before saving"
        )
    if isinstance(obj, dict):
        for k, v in obj.items():
            _assert_json_ints(v, f"{where}.{k}")
    elif isinstance(obj, (list, tuple)):
        for i, v in enumerate(obj):
            _assert_json_ints(v, f"{where}[{i}]")
    elif obj is not None and not isinstance(obj, (int, str)):
        raise TypeError(f"{where}: unsupported artifact type {type(obj).__name__}")


def load_index(spark: SparkSession, index_dir: str) -> AnnIndex:
    """Load a saved index: parse + validate the manifest, attach lazy
    parquet readers for the stored relations, and validate each
    relation's schema against the manifest record (catches a swapped or
    regenerated table under a stale manifest without scanning data)."""
    manifest_path = f"{index_dir}/manifest.json"
    if not os.path.exists(manifest_path):
        raise FileNotFoundError(
            f"{manifest_path} not found — not a saved index (a crashed "
            "save leaves no manifest by design)"
        )
    with open(manifest_path) as f:
        manifest = json.load(f)
    v = manifest.get("format_version")
    if v != FORMAT_VERSION:
        raise ValueError(
            f"index at {index_dir} has format_version={v!r}; this build "
            f"reads version {FORMAT_VERSION}"
        )
    tables = {}
    for name, meta in manifest.get("tables", {}).items():
        df = spark.read.parquet(f"{index_dir}/tables/{name}")
        if df.schema.simpleString() != meta["schema"]:
            raise ValueError(
                f"index table {name!r} at {index_dir} has schema "
                f"{df.schema.simpleString()} but the manifest recorded "
                f"{meta['schema']} — table and manifest are out of sync"
            )
        tables[name] = df
    kind = manifest["kind"]
    main = KIND_TABLE.get(kind)
    generations = []
    if main in tables:
        generations.append({"generation": 0, "n_rows": None, "df": tables[main]})
        for gen_n, gdir, gmeta in _committed_generations(index_dir):
            if gmeta.get("kind") != kind:
                raise ValueError(
                    f"generation {gen_n} at {gdir} was encoded for kind "
                    f"{gmeta.get('kind')!r} but the index is {kind!r}"
                )
            gdf = spark.read.parquet(f"{gdir}/{main}")
            want = manifest["tables"][main]["schema"]
            if gdf.schema.simpleString() != want:
                raise ValueError(
                    f"generation {gen_n} table at {gdir}/{main} has schema "
                    f"{gdf.schema.simpleString()} but the index stores "
                    f"{want} — slice and manifest are out of sync"
                )
            tables[main] = tables[main].unionByName(gdf)
            generations.append(
                {"generation": gen_n, "n_rows": gmeta.get("n_rows"), "df": gdf}
            )
    parts = None
    if kind in ("ivfpq_res", "opq_ivfpq"):
        from hadoop_tfidf_spark.operators import similarity as S

        p, arts = manifest["params"], manifest["artifacts"]
        parts = S._ivfpq_parts(
            tables["codes"], len(arts["codebooks"]), p["units"],
            p["id_col"], p["vec_col"], perm=arts.get("perm"),
        )
    return AnnIndex(
        kind=kind,
        params=manifest["params"],
        artifacts=manifest["artifacts"],
        tables=tables,
        path=index_dir,
        generations=generations,
        _parts=parts,
    )


def _committed_generations(index_dir: str) -> list[tuple[int, str, dict]]:
    """Committed generation slices under ``index_dir``, ascending. A dir
    without its ``_META.json`` commit marker is a crashed encode: it is
    INVISIBLE here (never served) but still occupies its number — the
    next extend writes past it, so a retry never collides with debris."""
    root = f"{index_dir}/{GENERATIONS_DIR}"
    out = []
    if not os.path.isdir(root):
        return out
    for entry in sorted(os.listdir(root)):
        if not entry.startswith("gen="):
            continue
        try:
            n = int(entry.split("=", 1)[1])
        except ValueError:
            continue
        meta_path = f"{root}/{entry}/{_GEN_META}"
        if not os.path.exists(meta_path):
            continue
        with open(meta_path) as f:
            out.append((n, f"{root}/{entry}", json.load(f)))
    return sorted(out)


def _next_generation_number(index_dir: str) -> int:
    """1 + the highest gen= dir present, committed OR crashed."""
    root = f"{index_dir}/{GENERATIONS_DIR}"
    top = 0
    if os.path.isdir(root):
        for entry in os.listdir(root):
            if entry.startswith("gen="):
                try:
                    top = max(top, int(entry.split("=", 1)[1]))
                except ValueError:
                    continue
    return top + 1


def build_knn_index(
    embeddings: DataFrame,
    kind: str,
    index_dir: str,
    units: int = 1_000_000,
    in_dim: int | None = None,
    coarse_k: int = 16,
    coarse_iters: int = 2,
    m: int = 4,
    pq_k: int = 16,
    pq_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Train one ``cli knn`` tier and persist it. The training jobs
    (Lloyd rounds, calibration scans, code encoding) all run HERE, once;
    :func:`serve_knn` then answers queries from the stored artifacts
    alone. ``in_dim`` defaults to the first row's width (one 1-row
    job)."""
    from hadoop_tfidf_spark.operators import similarity as S

    if kind not in KNN_KINDS:
        raise ValueError(f"kind must be one of {KNN_KINDS}, got {kind!r}")
    if in_dim is None:
        in_dim = len(embeddings.select(vec_col).first()[vec_col])
    params = {
        "units": units, "in_dim": in_dim,
        "id_col": id_col, "vec_col": vec_col,
    }
    if kind == "ivf":
        assigned, cents = S.ivf_build(
            embeddings, k=coarse_k, iters=coarse_iters,
            id_col=id_col, vec_col=vec_col, units=units,
        )
        params.update({"coarse_k": coarse_k, "coarse_iters": coarse_iters})
        return save_index(
            index_dir, kind, params,
            {"centroids": [[int(x) for x in c] for c in cents]},
            {"assigned": assigned},
        )
    if kind == "bq":
        index = S.bq_build(
            embeddings, units=units, in_dim=in_dim,
            id_col=id_col, vec_col=vec_col,
        )
        return save_index(index_dir, kind, params, {}, {"index": index})
    if kind == "sq":
        index, vmax = S.sq_build(
            embeddings, units=units, in_dim=in_dim,
            id_col=id_col, vec_col=vec_col,
        )
        return save_index(
            index_dir, kind, params, {"vmax": int(vmax)}, {"index": index}
        )
    if kind == "ivfsq":
        index, cents, vmax = S.ivfsq_build(
            embeddings, coarse_k=coarse_k, coarse_iters=coarse_iters,
            units=units, in_dim=in_dim, id_col=id_col, vec_col=vec_col,
        )
        params.update({"coarse_k": coarse_k, "coarse_iters": coarse_iters})
        return save_index(
            index_dir, kind, params,
            {"centroids": [[int(x) for x in c] for c in cents],
             "vmax": int(vmax)},
            {"index": index},
        )
    # ivfpq_res: the production recommendation — coarse cells bound the
    # scan, residual PQ codes are 8 bytes/vector, exact re-rank optional
    # downstream. Stored relation is the pre-joined (cluster, pq_code).
    # opq_ivfpq: the same index trained in the OPQ variance-balanced
    # space — the permutation (one more integer artifact) reorders
    # coordinates in front of every encode/search, and L2 is
    # permutation-invariant so results rank the same true distances.
    extra_artifacts = {}
    if kind == "opq_ivfpq":
        perm = S.opq_permutation(
            embeddings, m=m, in_dim=in_dim, units=units,
            id_col=id_col, vec_col=vec_col,
        )
        extra_artifacts["perm"] = [int(p) for p in perm]
        embeddings = S.opq_apply(embeddings, perm, id_col, vec_col)
    assigned, cents, codes, codebooks = S.ivfpq_build_residual(
        embeddings, coarse_k=coarse_k, coarse_iters=coarse_iters,
        m=m, k=pq_k, iters=pq_iters, units=units,
        id_col=id_col, vec_col=vec_col, pack=True,
    )
    params.update({
        "coarse_k": coarse_k, "coarse_iters": coarse_iters,
        "m": m, "pq_k": pq_k, "pq_iters": pq_iters,
    })
    return save_index(
        index_dir, kind, params,
        {"centroids": [[int(x) for x in c] for c in cents],
         "codebooks": [
             [[int(x) for x in cent] for cent in sub] for sub in codebooks
         ],
         **extra_artifacts},
        {"codes": codes},
    )


def serve_knn(
    embeddings: DataFrame,
    index: AnnIndex,
    query_ids: list[int],
    k: int = 10,
    candidates: int = 50,
    nprobe: int = 2,
) -> DataFrame:
    """Answer queries from a LOADED index. No training job runs — the
    centroids/codebooks/vmax come from the manifest and the code tables
    from parquet; ``embeddings`` supplies query vectors and (for the
    byte-code tiers) the full-resolution rows the exact stage-2 re-rank
    reads. Output is the family shape ``(query_id, vec_id, d2_u, rn)``
    (``adc_d2`` for ivfpq_res), bit-equal to searching the in-session
    build because every artifact round-trips exactly.

    Query rows are looked up with ``similarity._id_in``: the ids are an
    array literal that generated code reads by reference, beside an id
    range aligned to 2^16-id blocks that parquet skips row groups on, so
    a warm query for a new id in a block already served compiles no
    code. The ``ivfpq_res`` / ``opq_ivfpq`` tiers search with the parts
    :func:`load_index` prebuilt (``AnnIndex._parts``; the OPQ
    permutation is inside the query's unit column), so a query adds only
    its lookup and its probe literal to the plan."""
    from hadoop_tfidf_spark.operators import similarity as S

    p, arts = index.params, index.artifacts
    units, in_dim = p["units"], p["in_dim"]
    id_col, vec_col = p["id_col"], p["vec_col"]
    query_ids = [int(x) for x in query_ids]
    if index.kind in ("bq", "sq"):
        queries = embeddings.where(S._id_in(id_col, query_ids))
    if index.kind == "ivf":
        return S.ivf_topk(
            index.tables["assigned"], arts["centroids"], query_ids,
            k=k, nprobe=nprobe, id_col=id_col, vec_col=vec_col, units=units,
            embeddings=embeddings,
        )
    if index.kind == "bq":
        return S.bq_topk(
            embeddings, queries, k=k, candidates=candidates, units=units,
            in_dim=in_dim, id_col=id_col, vec_col=vec_col,
            index=index.tables["index"],
        )
    if index.kind == "sq":
        return S.sq_topk(
            embeddings, queries, k=k, candidates=candidates, units=units,
            in_dim=in_dim, id_col=id_col, vec_col=vec_col,
            vmax=int(arts["vmax"]), index=index.tables["index"],
        )
    if index.kind == "ivfsq":
        return S.ivfsq_topk(
            embeddings, query_ids, k=k,
            candidates=candidates, nprobe=nprobe, units=units,
            in_dim=in_dim, id_col=id_col, vec_col=vec_col,
            index=index.tables["index"],
            centroids=arts["centroids"], vmax=int(arts["vmax"]),
        )
    if index.kind in ("ivfpq_res", "opq_ivfpq"):
        # an OPQ index's parts reorder the query into the trained space;
        # L2 is permutation-invariant so the served distances are the
        # true ones
        return S._ivfpq_search(
            index._parts, arts["centroids"], arts["codebooks"], embeddings,
            query_ids, None, k=k, nprobe=nprobe, id_col=id_col,
            residual=True,
        )
    raise ValueError(f"unknown index kind {index.kind!r}")


def serve_knn_bulk(
    embeddings: DataFrame,
    index: AnnIndex,
    k: int = 10,
    candidates: int | None = None,
    nprobe: int | None = None,
    target_recall: float | None = None,
) -> DataFrame:
    """The whole-corpus kNN graph from a LOADED residual-IVFADC index —
    the semantic-dedup / clustering input job, composed from stored
    artifacts: stage 1 drives the persisted ``(cluster, pq_code)``
    relation with the corpus as the query relation (executor-side
    probes, zero collect), stage 2 re-ranks the candidate cut by exact
    integer L2. Pass ``target_recall`` to AUTO-SIZE the budget first
    (``similarity.size_knn_budget`` walks a sample recall curve against
    the exact truth — minutes on a sample before hours on the corpus);
    or pin ``nprobe``/``candidates`` explicitly. No training job runs
    either way."""
    from hadoop_tfidf_spark.operators import similarity as S

    if index.kind not in ("ivfpq_res", "opq_ivfpq"):
        raise ValueError(
            f"serve_knn_bulk needs an ivfpq_res/opq_ivfpq index (got "
            f"{index.kind!r}) — the compressed tiers are the ones whose "
            "bulk scan pays"
        )
    p = index.params
    if index.kind == "opq_ivfpq":
        from pyspark.storagelevel import StorageLevel

        # permute once and KEEP the projection materialized for the
        # bulk job: unpersisted, every distance lambda inlines the
        # in_dim-getItem array build and re-evaluates it per element
        # (the measured 10.6s-vs-2.0s rp_ivfpq precedent, SCALE.md)
        embeddings = S.opq_apply(
            embeddings, index.artifacts["perm"], p["id_col"], p["vec_col"]
        ).persist(StorageLevel.MEMORY_AND_DISK)
    cents, books = index.artifacts["centroids"], index.artifacts["codebooks"]
    if target_recall is not None:
        if candidates is not None or nprobe is not None:
            raise ValueError(
                "pass target_recall OR explicit nprobe/candidates, not "
                "both — auto-sizing would silently override the pins"
            )
        nprobe, candidates, _curve = S.size_knn_budget(
            embeddings, cents, index.tables["codes"], books, embeddings,
            target_recall=target_recall, k=k, units=p["units"],
            id_col=p["id_col"], vec_col=p["vec_col"],
        )
    if candidates is None or nprobe is None:
        raise ValueError(
            "pass target_recall= (auto-size) or both nprobe= and "
            "candidates= (pinned budget)"
        )
    return S.ivfpq_bulk_topk(
        embeddings, cents, index.tables["codes"], books, embeddings,
        k=k, candidates=candidates, nprobe=nprobe, units=p["units"],
        id_col=p["id_col"], vec_col=p["vec_col"],
    )


def _encode_generation(
    new_embeddings: DataFrame, kind: str, params: dict, artifacts: dict,
    packed: bool,
) -> DataFrame:
    """Encode new vectors against FROZEN artifacts — the append half of
    crawl-over-crawl index growth. Each tier dispatches onto the encoder
    its build ran over the base corpus, so NO training job runs here (no
    Lloyd round, no calibration scan, no codebook fit), extend cost is
    one scan of the NEW rows (O(delta), the ``dedup.delta_sign`` shape
    applied to ANN storage), and the slice has exactly the tier's
    stored-relation schema, so it unions cleanly under the base build."""
    from hadoop_tfidf_spark.operators import similarity as S

    units, in_dim = params["units"], params["in_dim"]
    id_col, vec_col = params["id_col"], params["vec_col"]
    if kind == "bq":
        # BQ is trainless — its build IS the stateless sign-pack encode
        return S.bq_build(
            new_embeddings, units=units, in_dim=in_dim,
            id_col=id_col, vec_col=vec_col,
        )
    if kind == "sq":
        # frozen vmax → sq_build skips its calibration scan entirely
        return S.sq_build(
            new_embeddings, units=units, in_dim=in_dim,
            id_col=id_col, vec_col=vec_col, vmax=int(artifacts["vmax"]),
        )[0]
    if kind == "ivf":
        return S.ivf_encode(
            new_embeddings, artifacts["centroids"], units, vec_col
        )
    if kind == "ivfsq":
        return S.ivfsq_encode(
            new_embeddings, artifacts["centroids"],
            int(artifacts["vmax"]), units=units, in_dim=in_dim,
            id_col=id_col, vec_col=vec_col,
        )
    if kind in ("ivfpq_res", "opq_ivfpq"):
        if kind == "opq_ivfpq":
            new_embeddings = S.opq_apply(
                new_embeddings, artifacts["perm"], id_col, vec_col
            )
        return S.ivfpq_encode(
            new_embeddings, artifacts["centroids"], artifacts["codebooks"],
            units=units, id_col=id_col, vec_col=vec_col, pack=packed,
        )
    raise ValueError(f"unknown index kind {kind!r}")


def extend_index(
    spark: SparkSession,
    index_dir: str,
    new_embeddings: DataFrame,
    check_ids: bool = True,
) -> int:
    """Append a new crawl generation to a stored index WITHOUT
    retraining: encode ``new_embeddings`` against the index's frozen
    centroids/codebooks/vmax and land the codes as a committed
    ``generations/gen=N`` slice that :func:`load_index` unions under
    the base relation. The weekly-crawl counterpart of the signature
    ledger's ``delta_sign`` (dedup.py): old generations are never
    rescanned, extend cost scales with the DELTA, and the trained
    artifacts stay bit-identical — so pre-extend query results are
    unchanged except for genuinely new neighbors.

    The trade: new vectors are quantized with codebooks fitted to the
    ORIGINAL corpus distribution. Drift therefore shows up as falling
    recall on new-generation queries, not as an error — run
    :func:`recall_drift` after each extend and retrain (a fresh
    :func:`build_knn_index` into a new directory) when it says so.

    ``check_ids`` guards the append with one column-pruned semi-join:
    an id that already exists in the stored relation would silently
    serve duplicate rows forever. Returns the generation number.

    Crash safety mirrors ``save_index``: parquet lands first, the
    ``_META.json`` marker lands last via atomic rename — a crashed
    extend leaves an uncommitted dir that loads skip and the next
    extend numbers past."""
    index = load_index(spark, index_dir)
    main = KIND_TABLE[index.kind]
    id_col = index.params["id_col"]
    vec_col = index.params["vec_col"]
    missing = [c for c in (id_col, vec_col) if c not in new_embeddings.columns]
    if missing:
        raise ValueError(
            f"extend_index: new_embeddings schema is missing {missing} — "
            "the delta must carry the same columns the index was built "
            f"from (have {new_embeddings.columns})"
        )
    if check_ids:
        clash = (
            new_embeddings.select(id_col)
            .join(index.tables[main].select(id_col), id_col, "semi")
            .limit(1)
            .count()
        )
        if clash:
            raise ValueError(
                f"extend_index: {id_col} values in new_embeddings already "
                "exist in the stored index — an append would serve "
                "duplicate rows (pass check_ids=False only if ids are "
                "externally guaranteed fresh)"
            )
    with open(f"{index_dir}/manifest.json") as f:
        manifest = json.load(f)
    want_schema = manifest["tables"][main]["schema"]
    packed = "pq_code" in want_schema
    slice_df = _encode_generation(
        new_embeddings, index.kind, index.params, index.artifacts, packed
    )
    got = slice_df.schema.simpleString()
    if got != want_schema:
        raise ValueError(
            f"extend_index: encoded slice schema {got} does not match the "
            f"stored {main} schema {want_schema} — new_embeddings must "
            "carry the same columns the index was built from"
        )
    gen_n = _next_generation_number(index_dir)
    gdir = f"{index_dir}/{GENERATIONS_DIR}/gen={gen_n}"
    slice_df.write.mode("error").parquet(f"{gdir}/{main}")
    n_rows = spark.read.parquet(f"{gdir}/{main}").count()
    meta = {
        "format_version": FORMAT_VERSION,
        "kind": index.kind,
        "table": main,
        "generation": gen_n,
        "n_rows": n_rows,
    }
    tmp = f"{gdir}/{_GEN_META}.tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f, sort_keys=True)
    os.rename(tmp, f"{gdir}/{_GEN_META}")
    return gen_n


def recall_drift(
    embeddings: DataFrame,
    index: AnnIndex,
    k: int = 10,
    candidates: int = 50,
    nprobe: int = 2,
    sample_mod: int = 1,
    per_generation_cap: int = 64,
    drift_budget: float = 0.10,
    recall_floor: float = 0.60,
) -> dict:
    """Recall telemetry over a mixed-generation index — the instrument
    that decides when :func:`extend_index`'s frozen-artifact appends
    have drifted far enough to justify a true retrain.

    Samples query ids from EVERY generation slice (deterministic
    hash-order pick of ≤ ``per_generation_cap`` each — spread across
    the id space and a bounded collect, so no generation can fall out
    of the sample the way a shared id-modulus would let it), computes
    the exact integer-L2 truth for the sample against the full
    ``embeddings`` relation (one sample-sized broadcast scan, never
    corpus × corpus), serves the same queries from the stored index,
    and reports recall@k overall and per query generation. What is
    scored is the PRODUCTION serving quality: for ivfpq_res the ADC
    cut at ``candidates`` followed by the exact integer re-rank to
    ``k`` (the same stage 2 every bulk job runs — raw ADC@k would
    measure quantizer distortion, not serving recall); the other tiers'
    serve paths already re-rank internally.

    Retrain trigger (the documented policy): ``retrain_due`` is True
    when any post-base generation's recall falls more than
    ``drift_budget`` below generation 0's (the new crawl's distribution
    has left the codebooks), or when any generation dips under
    ``recall_floor`` outright. Acting on it means a fresh
    :func:`build_knn_index` into a new directory — indexes are
    versioned artifacts, so serving flips atomically."""
    from hadoop_tfidf_spark.operators import similarity as S

    id_col = index.params["id_col"]
    vec_col = index.params["vec_col"]
    units = index.params["units"]
    if not index.generations:
        raise ValueError("recall_drift: index has no generation handles")
    qid_gen: dict[int, int] = {}
    for g in index.generations:
        # deterministic spread: order by a hash of the id, take the cap —
        # every generation contributes, no shared modulus can zero one out
        rows = (
            g["df"].where((F.col(id_col) % sample_mod) == 0)
            .select(id_col)
            .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
            .limit(per_generation_cap).collect()
        )
        for r in rows:
            qid_gen[int(r[id_col])] = g["generation"]
    if not qid_gen:
        raise ValueError(
            "recall_drift: query sample is empty — lower sample_mod"
        )
    qids = sorted(qid_gen)
    sample_q = embeddings.where(S._id_in(id_col, qids))
    truth = {
        (int(r["query_id"]), int(r[id_col]))
        for r in S.int_l2_topk(
            embeddings, sample_q, k=k, units=units,
            id_col=id_col, vec_col=vec_col,
        ).select("query_id", id_col).collect()
    }
    if index.kind in ("ivfpq_res", "opq_ivfpq"):
        # production shape: ADC cut at `candidates`, exact re-rank to k
        # (for opq the re-rank runs in the RAW space — L2 is
        # permutation-invariant, so the ranking is identical)
        cut = serve_knn(
            embeddings, index, qids, k=candidates, nprobe=nprobe
        ).select("query_id", id_col)
        ranked = S._exact_rerank(
            embeddings, cut, k, units=units, id_col=id_col, vec_col=vec_col
        )
    else:
        ranked = serve_knn(
            embeddings, index, qids, k=k,
            candidates=candidates, nprobe=nprobe,
        )
    served = {
        (int(r["query_id"]), int(r[id_col]))
        for r in ranked.select("query_id", id_col).collect()
    }
    hits_by_gen: dict[int, int] = {}
    truth_by_gen: dict[int, int] = {}
    for pair in truth:
        g = qid_gen[pair[0]]
        truth_by_gen[g] = truth_by_gen.get(g, 0) + 1
        if pair in served:
            hits_by_gen[g] = hits_by_gen.get(g, 0) + 1
    by_generation = {
        g: hits_by_gen.get(g, 0) / truth_by_gen[g]
        for g in sorted(truth_by_gen)
    }
    overall = sum(hits_by_gen.values()) / sum(truth_by_gen.values())
    base = by_generation.get(0, 1.0)
    retrain_due = any(
        (base - r) > drift_budget or r < recall_floor
        for g, r in by_generation.items()
        if g != 0
    ) or base < recall_floor
    return {
        "overall": overall,
        "by_generation": by_generation,
        "n_queries": len(qids),
        "k": k,
        "drift_budget": drift_budget,
        "recall_floor": recall_floor,
        "retrain_due": retrain_due,
    }


#: Atomic serving pointer: a root directory's ``CURRENT.json`` names the
#: active index version. Rebuilds land in fresh dirs (save_index refuses
#: overwrites), then one pointer flip moves every serving job — readers
#: see the old or the new index, never a torn state.
CURRENT_POINTER = "CURRENT.json"


def set_current_index(root: str, index_dir: str) -> str:
    """Point ``root``'s serving pointer at ``index_dir`` — the atomic
    flip the versioned-artifact story ends with: ``build_knn_index`` a
    new version into its own directory (or :func:`extend_index` an
    existing one), validate/measure it (:func:`recall_drift`), then
    flip. The write is tmp + ``os.rename`` so a concurrent
    :func:`resolve_index_dir` reads the old pointer or the new one,
    never a partial file. Refuses to point at anything that is not a
    loadable index (no manifest ⇒ a crashed or wrong path — flipping
    serving onto it would take every reader down)."""
    if not os.path.exists(f"{index_dir}/manifest.json"):
        raise FileNotFoundError(
            f"{index_dir} has no manifest.json — not a saved index; "
            "refusing to flip serving onto it"
        )
    with open(f"{index_dir}/manifest.json") as f:
        kind = json.load(f)["kind"]
    os.makedirs(root, exist_ok=True)
    pointer = {"path": os.path.abspath(index_dir), "kind": kind}
    tmp = f"{root}/{CURRENT_POINTER}.tmp"
    with open(tmp, "w") as f:
        json.dump(pointer, f, sort_keys=True)
    os.rename(tmp, f"{root}/{CURRENT_POINTER}")
    return pointer["path"]


def resolve_index_dir(path: str) -> str:
    """Resolve a serving path: a concrete index dir (has its own
    ``manifest.json``) resolves to itself; a ROOT dir with a
    ``CURRENT.json`` pointer resolves to the version it names — so
    every ``--index-dir`` consumer can be handed either a pinned
    version or the rolling pointer. A root whose pointer names a
    since-deleted dir fails loudly here rather than as a confusing
    read error downstream."""
    if os.path.exists(f"{path}/manifest.json"):
        return path
    pointer_path = f"{path}/{CURRENT_POINTER}"
    if os.path.exists(pointer_path):
        with open(pointer_path) as f:
            target = json.load(f)["path"]
        if not os.path.exists(f"{target}/manifest.json"):
            raise FileNotFoundError(
                f"{pointer_path} names {target}, which has no "
                "manifest.json — the pointed-at index version is gone"
            )
        return target
    raise FileNotFoundError(
        f"{path} is neither a saved index (no manifest.json) nor a "
        f"serving root (no {CURRENT_POINTER})"
    )


def compact_index(spark: SparkSession, index_dir: str, out_dir: str) -> str:
    """Fold an index's committed generation slices into a fresh base —
    the stored-index counterpart of the signature ledger's
    ``compact_ledger`` (a table format's OPTIMIZE on plain parquet).
    Weekly :func:`extend_index` appends accumulate many small
    ``generations/gen=N`` parquet slices; every load unions them, so
    file-listing and small-file overhead grow with crawl count.
    Compaction writes a NEW versioned index dir whose main relation is
    the full union as ONE table and whose artifacts are byte-identical
    (NO training job runs — the codes were already encoded; this is a
    pure rewrite, pinned in tests with the trainers unreachable).
    Reconstruction-invariant: the compacted index serves row-equal to
    the multi-generation one. Ship it like any rebuild: compact into a
    fresh dir, then :func:`set_current_index` flips serving atomically;
    the old dir stays readable until retired."""
    index = load_index(spark, index_dir)
    with open(f"{index_dir}/manifest.json") as f:
        manifest = json.load(f)
    main = KIND_TABLE.get(index.kind)
    tables = dict(index.tables)  # main is already the full union
    out = save_index(
        out_dir, index.kind, index.params, index.artifacts, tables
    )
    # sanity: the rewrite preserved the recorded schema pairing
    want = manifest["tables"][main]["schema"] if main in manifest["tables"] else None
    with open(f"{out_dir}/manifest.json") as f:
        got = json.load(f)["tables"][main]["schema"]
    if want is not None and got != want:
        raise ValueError(
            f"compact_index: rewritten {main} schema {got} does not "
            f"match the source index's {want}"
        )
    return out
