"""Similarity search over embedding columns (array<float>).

Beyond-reference capability. Two tiers:

- `cosine_topk_bruteforce` — exact top-k against a query vector. One scan,
  per-row dot product via zip_with/aggregate (JVM higher-order functions, no
  Python), distributed TakeOrdered for the top-k. The correctness baseline.
- `lsh_bucketed_topk` — random-hyperplane LSH: b sign-bits per vector from
  deterministic pseudo-random hyperplanes (hash-derived, no model state to
  broadcast); probe only the query's bucket ring (Hamming ≤ r). The scale
  path: at 100 TB, bucket pruning turns a full scan into a few-percent scan.
- `embedding_near_dup_pairs` — all-pairs cosine ≥ threshold via the same LSH
  buckets (for embedding-level dedup).

Dot products are computed in double (floats upcast exactly), summed in
element order — deterministic across runs and engines.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, functions as F

from felixzh_flink_spark.functions.changelog import (
    OP_INSERT,
    changelog_upsert_sink,
    read_upsert_state,
)
from felixzh_flink_spark.functions.stateio import state_fs


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    ))


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm (or NULL) vector scores NULL under ANSI
    # instead of aborting the query; nonzero norms divide bit-identically
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def _l2(vec: list[float]) -> float:
    """Driver-side twin of `_norm`: the same left fold of double squares,
    then a correctly-rounded sqrt (both IEEE-deterministic), so the value
    is bit-equal to what the SQL fold would produce."""
    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    return math.sqrt(acc)


# --- SQL-text expression builders -------------------------------------
# Large literal vectors/matrices are embedded as ONE `F.expr` string instead
# of thousands of fine-grained Column calls: each Python-side Column op is a
# py4j roundtrip (~1-2 ms), so a 16×64 literal matrix built from F.lit costs
# ~1 s of pure plan-construction time per query. A single SQL string parses
# JVM-side in microseconds and constant-folds to the same literal array.
# Doubles are embedded as CAST('<repr>' AS DOUBLE): Python repr roundtrips
# the exact IEEE value through Java's Double.parseDouble.

def _lit_vec_sql(vec: list[float]) -> str:
    """A literal double array as ONE constant-folded expression node.

    `cast(split('<csv>', ',') as array<double>)` is foldable (split and
    cast are ordinary deterministic functions, unlike higher-order
    folds), so Catalyst collapses it to a single Literal(ArrayData) —
    8 bytes per element in the serialized plan — where the earlier
    per-element `array(cast('..' as double), ...)` form cost one
    expression NODE per element (~1 KB each Java-serialized: a 16×1024
    PQ table ballooned the task binary to 22 MiB and planning to
    seconds). Python repr → Double.parseDouble round-trips the exact
    IEEE value, same as the previous form."""
    if not vec:
        return "array()"
    return ("cast(split('" + ",".join(repr(float(x)) for x in vec)
            + "', ',') as array<double>)")


def _lit_mat_sql(mat: list[list[float]]) -> str:
    # one folded-literal node per ROW (transform over a split of the
    # whole matrix would be a HOF — not folded, re-evaluated per row)
    return "array(" + ",".join(_lit_vec_sql(v) for v in mat) + ")"


def _dot_sql(a: str, b: str) -> str:
    # identical fold semantics to `_dot` (left fold in element order)
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * "
            f"cast(y as double)), cast(0.0 as double), (acc, x) -> acc + x)")


def _dot_idx_sql(a: str, b: str, dim: int) -> str:
    """`_dot_sql` folded over a constant index sequence instead of a
    zip_with — SQL-text twin of `_dot_indexed`: the zip_with form
    allocates a dim-element product array per evaluation (per row ×
    per centroid in the k-means assignment — the dominant allocation
    in every Lloyd pass), the indexed fold allocates nothing. Same
    element order and double arithmetic step-for-step (acc + aᵢ·bᵢ),
    so results are bit-identical; requires both arrays to have exactly
    `dim` elements (every caller's contract — embeddings are
    fixed-width)."""
    return (f"aggregate(sequence(1, {dim}), cast(0.0 as double), "
            f"(acc, i) -> acc + cast(element_at({a}, i) as double) * "
            f"cast(element_at({b}, i) as double))")


def _let_sql(value: str, var: str, body: str) -> str:
    """SQL `let` — evaluate `value` ONCE per enclosing evaluation, bind
    it to lambda variable `var`, return `body` (r12). Implemented as
    ``element_at(transform(array(value), var -> body), 1)``: the
    single-element transform invokes the lambda exactly once. Why it
    exists: a per-row subexpression (a norm fold, a float→double array
    cast) referenced inside an inner higher-order lambda is otherwise
    RE-EVALUATED per inner element — and hoisting it into a projected
    alias does not survive the optimizer, which inlines deterministic
    aliases straight back into the lambda when pushing the enclosing
    filter (the plan dump showed `_cnorm`'s whole fold inside the
    per-bench-vector lambda: 38 norm folds per row). The binding is
    deterministic and self-contained, so predicate pushdown and column
    pruning stay intact."""
    return f"element_at(transform(array({value}), {var} -> {body}), 1)"


def _dot_indexed(a: Column, b: Column, dim: int) -> Column:
    """Dot product folded over a constant index sequence — no per-row
    zip_with array allocation (matters when evaluated per candidate PAIR in
    a self-join: millions of 64-element allocs become none). Same element
    order and double arithmetic as `_dot`, so results are bit-identical."""
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(dim)),  # foldable literal array
        F.lit(0.0),
        lambda acc, i: acc
        + F.element_at(a, i).cast("double") * F.element_at(b, i).cast("double"),
    )


def _norm_sql(a: str) -> str:
    return (f"sqrt(aggregate(transform({a}, x -> cast(x as double) * "
            f"cast(x as double)), cast(0.0 as double), (acc, x) -> acc + x))")


def cosine_to_literal(vec_col: str, query_vec: list[float]) -> Column:
    """cosine(col, literal query vector) as a single-roundtrip expression.
    Bit-identical to `cosine(F.col(vec_col), F.array(*lits))` — same fold
    order — but O(1) py4j calls instead of O(dim).

    The query vector's norm is a CONSTANT, computed driver-side with the
    exact fold the SQL form would run (left-to-right double adds, then a
    correctly-rounded sqrt — both IEEE-deterministic) and embedded as a
    literal: Catalyst does not constant-fold higher-order-function folds
    over literal arrays, so the SQL-side form re-ran a dim-element fold
    per scanned row for a value that never changes. A zero-norm or NULL
    vector (either side) scores NULL, which ranks after every scored row."""
    return F.expr(
        f"try_divide({_dot_sql(vec_col, _lit_vec_sql(query_vec))}, "
        f"{_norm_sql(vec_col)} * {_l2(query_vec)!r}D)")


def cosine_topk_bruteforce(df: DataFrame, query_vec: list[float], k: int = 10,
                           id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k by cosine against a literal query vector.
    Returns (id, cosine_sim) ordered desc, ties broken by id asc."""
    scored = df.select(
        F.col(id_col).alias("id"),
        cosine_to_literal(vec_col, query_vec).alias("cosine_sim"),
    )
    return scored.orderBy(F.desc("cosine_sim"), F.asc("id")).limit(k)


# --------------------------------------- Johnson-Lindenstrauss projection

def rademacher_planes(out_dim: int, in_dim: int) -> list[list[float]]:
    """Deterministic ±1 (Rademacher) projection matrix, `out_dim` rows of
    `in_dim` signs — the sparse-friendly JL construction (Achlioptas 2003:
    ±1 entries satisfy the JL lemma with the same distortion bound as
    Gaussians). Signs derive from the splitmix64 FINALIZER over the flat
    index — full avalanche, so the signs are effectively i.i.d. and the
    rows near-orthogonal (a plain multiplicative hash's low-bit linear
    structure produced row pairs agreeing on 62/64 entries — nearly
    duplicate projections, measured as 2× the ideal JL distortion; the
    orthogonality is unit-pinned). The matrix is a pure function of its
    shape: no model state to persist or broadcast, any executor (or any
    other engine) can rebuild it bit-for-bit."""
    mask = 0xFFFFFFFFFFFFFFFF

    def _mix(x: int) -> int:
        x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & mask
        x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & mask
        return x ^ (x >> 31)

    mat = []
    for j in range(out_dim):
        row = []
        for i in range(in_dim):
            row.append(1.0 if _mix(j * in_dim + i + 1) & 1 else -1.0)
        mat.append(row)
    return mat


def random_projection_sql(vec_col: str, out_dim: int, in_dim: int) -> str:
    """SQL-text expression projecting `vec_col` (array<float>, len
    `in_dim`) to an array<double> of len `out_dim`: proj[j] =
    (1/√out_dim) · Σᵢ vec[i]·sign(j,i), each output a LEFT FOLD in
    element order (bit-reproducible across engines — same contract as
    `_dot`). The matrix rides as folded literal rows (`_lit_mat_sql`),
    so per scanned row the cost is out_dim codegen'd dot products and
    the plan carries 8 bytes per matrix cell.

    This is the ANN PRE-RANKING path: at 100 TB, scoring 16-dim
    projections instead of 64-dim raw vectors cuts the scan's flops and
    shuffle width 4×, and the JL bound keeps relative distances within
    O(√(log n / out_dim)) — candidates from projected space are then
    re-ranked exactly in raw space (same recall contract as PQ's ADC)."""
    scale = 1.0 / math.sqrt(out_dim)
    planes = rademacher_planes(out_dim, in_dim)
    fold = (f"aggregate(zip_with({vec_col}, row, "
            f"(x, y) -> cast(x as double) * y), cast(0.0 as double), "
            f"(acc, x) -> acc + x)")
    return (f"transform({_lit_mat_sql(planes)}, "
            f"row -> {fold} * {scale!r}D)")


def project_vec(vec: list[float], out_dim: int,
                in_dim: int | None = None) -> list[float]:
    """Driver-side twin of `random_projection_sql` for query vectors —
    identical left-fold double arithmetic, so the projected query is
    bit-equal to what the SQL form would produce."""
    in_dim = len(vec) if in_dim is None else in_dim
    scale = 1.0 / math.sqrt(out_dim)
    planes = rademacher_planes(out_dim, in_dim)
    out = []
    for row in planes:
        acc = 0.0
        for x, s in zip(vec, row):
            acc += float(x) * s
        out.append(acc * scale)
    return out


def random_projection(df: DataFrame, out_dim: int = 16, in_dim: int = 64,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      out_col: str = "proj") -> DataFrame:
    """(id, proj) with proj the JL-projected embedding."""
    return df.select(
        F.col(id_col),
        F.expr(random_projection_sql(vec_col, out_dim, in_dim))
        .alias(out_col))


def rp_topk(df: DataFrame, query_vec: list[float], k: int = 10,
            out_dim: int = 16, in_dim: int = 64,
            id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Top-k by cosine in JL-PROJECTED space: one scan, out_dim
    codegen'd folds per row, distributed TakeOrdered — the cheap
    pre-ranking stage ahead of exact re-scoring. Returns
    (id, rp_cosine) desc, ties by id."""
    qp = project_vec(query_vec, out_dim, in_dim)
    proj = random_projection(df, out_dim, in_dim, id_col, vec_col)
    scored = proj.select(
        F.col(id_col).alias("id"),
        cosine_to_literal("proj", qp).alias("rp_cosine"))
    return scored.orderBy(F.desc("rp_cosine"), F.asc("id")).limit(k)


def rp_rerank_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                   prek: int = 50, out_dim: int = 16, in_dim: int = 64,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """TWO-STAGE retrieval — the production serving shape: stage 1
    ranks the corpus by PROJECTED cosine (out_dim folds per row, the
    cheap scan) and keeps the top `prek` candidates; stage 2 re-scores
    only those `prek` rows with the EXACT in_dim cosine and returns the
    final top `k`. At 100 TB the full-precision fold runs over prek
    rows instead of the corpus — stage 1 is where the flops go, and it
    is 4× narrower (and in a real deployment reads a MATERIALIZED
    projected column, making stage 1 a narrow-column scan).

    Deterministic end-to-end (both stages tie-break on id, the
    projection is a pure function of shape), so the whole pipeline —
    candidate set included — is hash-oracle-able. Returns
    (id, cosine_sim): exact scores, ordered desc, ties by id."""
    qp = project_vec(query_vec, out_dim, in_dim)
    stage1 = (df.select(
        F.col(id_col),
        F.col(vec_col),
        F.expr(random_projection_sql(vec_col, out_dim, in_dim))
        .alias("_proj"))
        .select(id_col, vec_col,
                cosine_to_literal("_proj", qp).alias("_rp"))
        .orderBy(F.desc("_rp"), F.asc(id_col)).limit(prek))
    return cosine_topk_bruteforce(stage1, query_vec, k, id_col, vec_col)


# ------------------------------------------- maintained-index lifecycle

#: the generation column of every maintained index (rp and IVF)
_EPOCH = "ingest_epoch"


def _index_epochs(spark, path: str) -> list[int]:
    """Committed generations of a maintained index, from a DIRECTORY
    LISTING (StateFS: file:/hdfs:/s3a: alike), never a data scan; []
    when nothing is committed."""
    pre = _EPOCH + "="
    return sorted(int(n[len(pre):])
                  for n in state_fs(spark, path).listdir(path)
                  if n.startswith(pre))


class _Lifecycle:
    """The one maintained-index lifecycle of the rp and IVF indexes.
    `encode` is the pure per-row ingest encoder (identity for rows
    already encoded); `part` the layout column under each generation.
    Layout `path/ingest_epoch=E[/part=C]`, so epoch checks, compaction
    triggers and the single-generation read are directory listings. A
    delete is a row whose payload (`part`, else `proj`; never NULL on
    an encoded row) is NULL. Read rule: a row is alive iff its payload
    is non-null and no NEWER generation holds its id."""

    def __init__(self, encode=None, part: str | None = None):
        self.encode = encode or (lambda rows: rows)
        self.layout = [_EPOCH] + ([part] if part else [])
        self.payload = part or "proj"

    def _commit(self, rows: DataFrame, path: str, epoch: int,
                mode: str = "append") -> None:
        (rows.withColumn(_EPOCH, F.lit(int(epoch))).write.mode(mode)
         .partitionBy(*self.layout).parquet(path))

    @staticmethod
    def _target(spark, path: str, epoch: int | None):
        """(generation to write into, committed generations), checked
        BEFORE any write; no `epoch` joins the latest generation."""
        epochs = _index_epochs(spark, path)
        if epoch is None:
            return (epochs or [0])[-1], epochs
        if epochs and int(epoch) <= epochs[-1]:
            raise ValueError(
                f"epoch {epoch} is not newer than committed epochs "
                f"{epochs} under {path}; latest-wins would discard it")
        return int(epoch), epochs

    def write(self, df: DataFrame, path: str, epoch: int | None) -> None:
        self._commit(self.encode(df), path, epoch or 0, "overwrite")

    def append(self, df: DataFrame, path: str, epoch: int | None,
               id_col: str = "vec_id", compact_after: int | None = None):
        target, epochs = self._target(df.sparkSession, path, epoch)
        self._commit(self.encode(df), path, target)
        n = len(set(epochs) | {target})
        if compact_after is not None and n >= compact_after:
            self.compact(df.sparkSession, path, id_col)

    def delete(self, ids_df: DataFrame, path: str, epoch: int,
               id_col: str) -> None:
        spark = ids_df.sparkSession
        target, _ = self._target(spark, path, epoch)
        fields = spark.read.parquet(path).schema.fields   # footer read
        self._commit(ids_df.select(F.col(id_col), *[
            F.lit(None).cast(f.dataType).alias(f.name) for f in fields
            if f.name not in (id_col, _EPOCH)]), path, target)

    def alive(self, spark, path: str, id_col: str) -> DataFrame:
        """One generation: a filtered scan. Several: a broadcast join
        against the per-id newest epoch over every generation but the
        oldest (which supersedes nothing) — O(delta), no window. Rows keep
        their `ingest_epoch`: (id, epoch) names an alive row, the key a
        serving read fetches raw payload columns by."""
        idx = spark.read.parquet(path)
        rows = idx.filter(F.col(self.payload).isNotNull())
        epochs = _index_epochs(spark, path)
        if len(epochs) > 1:
            newest = (idx.filter(F.col(_EPOCH) > epochs[0])
                      .groupBy(id_col).agg(F.max(_EPOCH).alias("_new")))
            rows = (rows.join(F.broadcast(newest), id_col, "left")
                    .filter(F.col("_new").isNull()
                            | (F.col(_EPOCH) >= F.col("_new")))
                    .drop("_new"))
        return rows

    def compact(self, spark, path: str, id_col: str) -> None:
        epochs = _index_epochs(spark, path)
        if len(epochs) > 1:
            self._commit(self.alive(spark, path, id_col)
                         .localCheckpoint(eager=True), path, epochs[-1] + 1)
            fs = state_fs(spark, path)
            for e in epochs:                        # oldest first
                fs.delete(fs.join(path, f"{_EPOCH}={e}"))

    def stream_sink(self, state_dir: str, id_col: str, vec_col: str,
                    n_buckets: int):
        inner = changelog_upsert_sink(state_dir, pk=[id_col],
                                      order_col=_EPOCH, n_buckets=n_buckets)

        def sink(batch_df: DataFrame, epoch_id: int) -> None:
            op = (F.col("op") if "op" in batch_df.columns
                  else F.lit(OP_INSERT))
            rows = self.encode(batch_df.select(id_col, vec_col,
                                               op.alias("op")))
            inner(rows.withColumn(_EPOCH, F.lit(int(epoch_id))), epoch_id)

        return sink


_RP = _Lifecycle()
_IVF = _Lifecycle(part="ivf_cell")


def _rp_lifecycle(out_dim: int, in_dim: int, id_col: str, vec_col: str):
    """The rp lifecycle, encoding (id, vec, …) → (id, proj, vec, …):
    the JL projection as its own top-level column."""
    proj = F.expr(random_projection_sql(vec_col, out_dim, in_dim))
    return _Lifecycle(lambda df: df.select(
        F.col(id_col), proj.alias("proj"),
        *[c for c in df.columns if c != id_col]))


def write_rp_index(df: DataFrame, path: str, out_dim: int = 16,
                   in_dim: int = 64, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   epoch: int | None = None) -> None:
    """Materialize the two-stage retrieval index: (id, proj, vec)
    parquet with the JL projection as its OWN TOP-LEVEL column. This is
    the ingest artifact `rp_rerank_topk`'s docstring promises a real
    deployment scans: stage 1 then COLUMN-PRUNES to (id, proj) — a
    16-double read instead of the 64-float raw vector, 4× narrower at
    the I/O level, not just in flops (plan-asserted in
    tests/test_plans.py) — and the raw vectors page in only for the
    `prek` re-rank candidates. Same lifecycle as `write_ivf_index`:
    project once at ingest, never per query. The stored projection is
    `random_projection_sql`'s exact left-fold doubles (parquet
    round-trips bits), so index-path results stay hash-oracle-able.

    The index is PARTITIONED BY `ingest_epoch`, one directory per
    committed generation; the write replaces the index with generation
    `epoch` (0 without it). This is the LSM-ish layout of an
    INCREMENTALLY MAINTAINED index: `append_rp_index` adds later
    epoch directories, `delete_from_rp_index` adds tombstones,
    `rp_index_latest` reads latest-wins, `compact_rp_index` folds the
    generations back to one. Epoch membership living in DIRECTORY
    NAMES, not row data, is what makes maintenance decisions
    filesystem-cheap at 100 TB: epoch checks, compaction triggers,
    and the single-generation fast path all run on a directory
    listing, never a data scan."""
    _rp_lifecycle(out_dim, in_dim, id_col, vec_col).write(
        df.select(id_col, vec_col), path, epoch)


def append_rp_index(df: DataFrame, path: str, out_dim: int = 16,
                    in_dim: int = 64, id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    epoch: int | None = None,
                    compact_after: int = 4) -> None:
    """INCREMENTAL index maintenance — the serving-side gap a
    materialized index opens (VERDICT r9 item 6): new documents join a
    committed `write_rp_index` without a full rebuild. Encodes ONLY the
    delta rows (the projection is a pure function of shape, so delta
    rows fold through the exact same ±1 matrix as the bulk — bit-equal
    to what a full rebuild would store for them) and APPENDS them as
    new parquet files; the bulk files are immutable, exactly the
    epoch-manifest append discipline of the changelog upsert sinks
    (changelog.py `upsert_sink`). At 100 TB the delta encode scans the
    delta, never the corpus.

    Two regimes:
    - new-ids-only (no `epoch`): the rows join the latest generation;
      the combined index serves bit-identical to a full rebuild by
      construction.
    - upserts (`epoch` strictly newer than every committed generation
      — checked against the directory listing BEFORE the write, so a
      replayed or out-of-order epoch fails loudly and commits nothing
      instead of silently losing to latest-wins): re-embedded ids
      SUPERSEDE earlier rows via `rp_index_latest`'s latest-epoch-wins
      read.

    AUTO-COMPACTION (the round-10 scale finding: an uncompacted index
    paid a latest-wins resolution per serving read, measured growing
    linearly with the index): once the append commits, if the live
    epoch directories reach `compact_after`, `compact_rp_index` folds
    them into one generation INSIDE the append call — the LSM
    write-amp ≤ index/compact_after trade that keeps serving reads
    join-free. The threshold check is a directory listing, so a no-op
    append decision costs zero data IO."""
    _rp_lifecycle(out_dim, in_dim, id_col, vec_col).append(
        df.select(id_col, vec_col), path, epoch, id_col, compact_after)


def delete_from_rp_index(ids_df: DataFrame, path: str, epoch: int,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> None:
    """DELETION tombstones for the incrementally maintained index —
    the op=-D of the batch upsert path (the streaming sink already
    handles it via the changelog machinery): each deleted id appends a
    row with NULL proj/vec at `epoch` (strictly newer, checked before
    the write). A real index row can never carry a NULL projection (the
    JL fold of any vector is non-null), so NULL-proj IS the tombstone
    marker — no schema change: as the newest holder of its id the
    tombstone kills every earlier version and is itself never served,
    so the id vanishes from BOTH serving stages. Compaction applies
    tombstones physically; a later re-insert of the id at a higher
    epoch resurrects it, exactly upsert semantics. The write scans
    only the id relation — O(deletes), never O(index); the NULL
    columns are typed off the committed index schema (a parquet footer
    read), so mixed-precision vector layouts stay mergeable."""
    _RP.delete(ids_df, path, epoch, id_col)


def rp_index_latest(spark, path: str,
                    id_col: str = "vec_id") -> DataFrame:
    """Read view of an incrementally maintained rp index: a row is
    served iff its projection is non-null and no NEWER generation holds
    its id. Two shapes, decided by a DIRECTORY LISTING (never a data
    scan):

    - ONE live epoch generation (a compacted index, or a bulk plus
      new-id appends): join-FREE read — drop the partition column and
      serve; this is the shape `append_rp_index`'s auto-compaction
      maintains, so steady-state serving never pays a latest-wins
      resolution no matter how many upsert batches ran;
    - multiple live generations (uncompacted merge-on-read): the
      per-id newest epoch is aggregated over the DELTA generations
      only (every generation but the oldest, partition-pruned) and
      BROADCAST onto the index scan — no window and no shuffle of the
      index, so serving an uncompacted index costs O(delta), never
      O(index). (Deltas between compactions are bounded by
      compact_after × batch size, the same smallness assumption every
      merge-on-read table makes.)

    Tombstones (`delete_from_rp_index`'s NULL-proj rows) are never
    served yet still hold their id, so a deletion hides every earlier
    version of its id while a later re-insert resurrects it."""
    return _RP.alive(spark, path, id_col).drop(_EPOCH)


def compact_rp_index(spark, path: str, id_col: str = "vec_id") -> None:
    """Compaction: fold an epoch-partitioned index's generations into
    ONE (latest-wins applied, tombstones dropped), restoring the
    join-free serving scan while KEEPING the epoch layout so later
    appends keep working (the pre-r11 version rewrote to the plain
    layout, which dead-ended the append lifecycle it existed to
    serve). CRASH-SAFE at every step, no manifest needed:

    1. materialize the latest view (eager localCheckpoint — Spark
       cannot overwrite/delete a path it is lazily reading);
    2. append it as a FRESH generation `ingest_epoch = max+1` — a
       crash mid-write leaves either invisible staging files
       (`_temporary`, underscore-hidden from reads) or a committed
       generation that is the newest holder of every alive id, which
       the latest-wins read then serves alone, so every intermediate
       state reads correctly;
    3. delete the superseded generations, oldest first — a crash
       mid-delete leaves a multi-generation layout the merge-on-read
       path still serves correctly; the next compaction finishes the
       sweep.

    On a real cluster this is the background job an LSM-ish index
    runs between epochs; `append_rp_index(compact_after=)` invokes it
    inline once enough generations accumulate."""
    _RP.compact(spark, path, id_col)

def rp_rerank_topk_prefiltered(idx: DataFrame, allowed_ids: DataFrame,
                               query_vec: list[float], k: int = 10,
                               prek: int = 50, out_dim: int = 16,
                               in_dim: int = 64, id_col: str = "vec_id",
                               vec_col: str = "embedding") -> DataFrame:
    """FILTERED vector search with PRE-filter semantics — the
    metadata-constrained ANN query every production vector store serves
    ("top-k among documents WHERE <predicate>"): the filter restricts
    the corpus BEFORE stage-1 ranking (a left-semi join of the index
    against the allowed-id relation), so the returned k are the best of
    the FILTERED set. Post-filtering a global top-k instead would drop
    recall exactly when the filter is selective — the oracle pins
    pre-filter semantics by injecting the same predicate into the
    candidate CTE, where a post-filter implementation returns different
    rows and fails the hash. At scale the semi-join is one id-hash
    shuffle (or a broadcast when the predicate is selective); both
    stages then run unchanged on the survivor set."""
    filtered = idx.join(allowed_ids.select(id_col), id_col, "left_semi")
    return rp_rerank_topk_from_df(filtered, query_vec, k=k, prek=prek,
                                  out_dim=out_dim, in_dim=in_dim,
                                  id_col=id_col, vec_col=vec_col)


def rrf_fuse(ranked_a: DataFrame, ranked_b: DataFrame,
             score_a: str, score_b: str, id_a: str, id_b: str,
             k: int = 10, k0: int = 60) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    of two rankers — THE standard hybrid-retrieval combiner (lexical
    BM25 + dense vector top-k): each candidate scores
    Σ 1/(k0 + rank_i) over the rankers that returned it, k0=60 the
    published constant. Operates on the rankers' top-k OUTPUTS (both
    ≤ a constant number of rows by construction), so the rank windows
    and the full-outer merge are constant-size at any corpus scale —
    the corpus-scale work lives entirely inside the two rankers.

    Deterministic: ranks are row_number over (score desc, id asc) —
    both input rankers' scores are already cross-engine stable
    (quantized BM25 / exact cosine) — and the fused score is two IEEE
    divisions on exact integers plus one add, bit-identical in any
    engine; ties fall to the id. Returns (id, rrf) desc."""
    wa = Window.orderBy(F.desc(score_a), F.asc(id_a))
    wb = Window.orderBy(F.desc(score_b), F.asc(id_b))
    a = ranked_a.select(F.col(id_a).alias("id"),
                        F.row_number().over(wa).alias("_ra"))
    b = ranked_b.select(F.col(id_b).alias("id"),
                        F.row_number().over(wb).alias("_rb"))
    fused = (a.join(b, "id", "full_outer")
             .select("id",
                     (F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("_ra")),
                                 F.lit(0.0))
                      + F.coalesce(F.lit(1.0) / (F.lit(k0) + F.col("_rb")),
                                   F.lit(0.0))).alias("rrf")))
    return fused.orderBy(F.desc("rrf"), F.asc("id")).limit(k)


def rp_index_stream_sink(state_dir: str, out_dim: int = 16,
                         in_dim: int = 64, id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         n_buckets: int = 8):
    """foreachBatch writer maintaining the two-stage retrieval index
    CONTINUOUSLY — streaming index maintenance, the U4 unification of
    `write_rp_index`/`append_rp_index`: each micro-batch of documents is
    projected (the same pure-of-shape JL fold the batch builders use —
    only the BATCH is ever scanned) and MERGED into the bucketed index
    state keyed on id, latest micro-batch wins per id, so inserts,
    re-embeddings, and (via an `op` column carrying -D) deletions all
    maintain the served layout. Storage/merge/commit ride the changelog
    library's crash-atomic bucketed machinery (`changelog_upsert_sink` —
    a batch rewrites O(touched buckets), not O(index); a replayed
    `epoch_id` re-merges the same rows at the same epoch, so replays
    are idempotent and, unlike the additive BM25-stats sink, need no
    epoch guard). Read back with `rp_index_stream_read` and serve
    with `rp_rerank_topk_from_df` — the parity e2e pins streamed-index
    results ≡ the inline path over the latest corpus."""
    return _rp_lifecycle(out_dim, in_dim, id_col, vec_col).stream_sink(
        state_dir, id_col, vec_col, n_buckets)


def rp_index_stream_read(spark, state_dir: str,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """The continuously maintained index in the `write_rp_index` serving
    layout (id, proj, vec) — feed to `rp_rerank_topk_from_df`. Reading
    the committed manifest state needs no latest-wins resolution: the
    sink already merged per id at write time (that cost is paid per
    micro-batch over touched buckets, not per query — the streaming
    analog of a compacted index)."""
    return read_upsert_state(spark, state_dir).select(
        id_col, "proj", vec_col)


def _rp_two_stage(ranked: DataFrame, raw: DataFrame, keys: list[str],
                  query_vec: list[float], k: int, prek: int, out_dim: int,
                  in_dim: int, id_col: str, vec_col: str) -> DataFrame:
    """The one two-stage rp kernel: stage 1 ranks `ranked` on (keys,
    proj) by projected cosine and keeps the top `prek` keys; stage 2
    fetches `vec_col` from `raw` for exactly those keys (a broadcast
    semi-join) and re-ranks them exactly."""
    qp = project_vec(query_vec, out_dim, in_dim)
    stage1 = (ranked.select(*keys, cosine_to_literal("proj", qp).alias("_rp"))
              .orderBy(F.desc("_rp"), F.asc(id_col)).limit(prek))
    fetch = raw.select(*keys, vec_col).join(
        F.broadcast(stage1.select(*keys)), keys, "left_semi")
    return cosine_topk_bruteforce(fetch, query_vec, k, id_col, vec_col)


def rp_rerank_topk_from_df(idx: DataFrame, query_vec: list[float],
                           k: int = 10, prek: int = 50,
                           out_dim: int = 16, in_dim: int = 64,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Two-stage retrieval over an index DATAFRAME in the
    `write_rp_index` layout (id, proj, vec) — the serving kernel of
    `rp_rerank_topk_from_index` with the frame as both inputs and the id
    as the fetch key (for read views such as `rp_index_stream_read` or
    `rp_index_latest`): stage 1 scans ONLY (id, proj) — the narrow
    column read — ranks by projected cosine and keeps `prek`
    candidates; stage 2 fetches raw vectors for exactly those rows
    (broadcast semi-join of the prek ids against the (id, vec) columns
    — at 100 TB with an id-sorted/bucketed layout this is the
    point-lookup side) and re-scores with the exact in_dim cosine.
    Identical fold order to the inline `rp_rerank_topk`, so results —
    candidate set included — are bit-equal to it and to the two-stage
    oracle replay."""
    return _rp_two_stage(idx, idx, [id_col], query_vec, k, prek, out_dim,
                         in_dim, id_col, vec_col)


def rp_rerank_topk_from_index(spark, path: str, query_vec: list[float],
                              k: int = 10, prek: int = 50,
                              out_dim: int = 16, in_dim: int = 64,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding") -> DataFrame:
    """Two-stage retrieval against a MATERIALIZED `write_rp_index`
    path (see `rp_rerank_topk_from_df` for the serving shape). Stage 1
    ranks the ALIVE rows (`rp_index_latest`'s read rule) and keeps their
    (id, ingest_epoch) keys; stage 2 fetches raw vectors by those keys
    from the plain index scan. `ingest_epoch` is a partition column, so
    neither scan reads `proj` and the vectors together, and superseded
    or deleted rows are never served."""
    return _rp_two_stage(_RP.alive(spark, path, id_col),
                         spark.read.parquet(path), [id_col, _EPOCH],
                         query_vec, k, prek, out_dim, in_dim, id_col,
                         vec_col)


def _multi_sims(df: DataFrame, queries: dict[int, list[float]],
                id_col: str, vec_col: str, sim_col: str,
                *keep: str) -> DataFrame:
    """(query_id, id, *keep, sim_col): the cosine of every query against
    every row of `df` in one pass. The queries ride as ONE literal
    matrix with their driver-side norms, and the row norm folds once
    per row and is reused across queries."""
    qids = sorted(queries)
    vecs = [queries[q] for q in qids]
    sims = (f"transform(zip_with({_lit_mat_sql(vecs)}, "
            f"{_lit_vec_sql([_l2(v) for v in vecs])}, "
            f"(qv, qn) -> named_struct('v', qv, 'n', qn)), "
            f"s -> try_divide({_dot_sql(vec_col, 's.v')}, __rnorm * s.n))")
    qid_lit = "array(" + ",".join(str(int(q)) for q in qids) + ")"
    # posexplode_OUTER: the sims array is a transform over a LITERAL
    # query matrix — never null, size always = query count — so outer
    # emits identical rows; the inner form let
    # InferFiltersFromGenerate push a size(<sims>) > 0 guard that
    # re-evaluated every per-query dot once more per row below the
    # explode (the bm25_topk_multi finding, r12)
    return (df.withColumn("__rnorm", _norm(F.col(vec_col)))
            .select(F.col(id_col).alias("id"), *keep,
                    F.posexplode_outer(F.expr(sims)).alias("_qi", sim_col))
            .select(F.expr(f"element_at({qid_lit}, _qi + 1)")
                    .cast("bigint").alias("query_id"),
                    "id", *keep, sim_col))


def rp_rerank_topk_multi_from_index(spark, path: str,
                                    queries: dict[int, list[float]],
                                    k: int = 10, prek: int = 50,
                                    out_dim: int = 16, in_dim: int = 64,
                                    id_col: str = "vec_id",
                                    vec_col: str = "embedding") -> DataFrame:
    """BATCHED two-stage retrieval against the `write_rp_index` layout —
    the batch-serving shape (N queries amortize ONE narrow index scan,
    the `cosine_topk_multi` pattern composed with the projected-index
    path): stage 1 scans only the ALIVE (id, proj) rows, scores every
    projected query per row (row norm folded once, queries ride as one
    literal matrix), and keeps the per-query top `prek` (one keyed
    window — shuffle volume is (id, qi, rp) tuples, the documented
    multi-query trade); stage 2 fetches raw vectors ONCE for the
    distinct candidate (id, ingest_epoch) keys (broadcast semi-join, as
    in `rp_rerank_topk_from_index`), scores the exact sims per fetched
    row, and re-ranks per query. Deterministic end-to-end (projection
    pure-of-shape, id tie-breaks both stages), so the oracle replays
    both stages PER QUERY. Returns (query_id, id, cosine_sim) —
    per-query exact top-k."""
    keys = ["id", _EPOCH]
    projected = {q: project_vec(v, out_dim, in_dim)
                 for q, v in queries.items()}
    w1 = Window.partitionBy("query_id").orderBy(F.desc("rp"), F.asc("id"))
    cand = (_multi_sims(_RP.alive(spark, path, id_col), projected, id_col,
                        "proj", "rp", _EPOCH)
            .withColumn("_rn", F.row_number().over(w1))
            .filter(F.col("_rn") <= prek)
            .select("query_id", *keys))
    fetch = (spark.read.parquet(path)
             .select(F.col(id_col).alias("id"), _EPOCH, vec_col)
             .join(F.broadcast(cand.select(*keys).distinct()), keys,
                   "left_semi"))
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("id"))
    return (_multi_sims(fetch, queries, "id", vec_col, "cosine_sim", _EPOCH)
            .join(F.broadcast(cand), ["query_id", *keys], "left_semi")
            .select("query_id", "id", "cosine_sim")
            .withColumn("_rn", F.row_number().over(w2))
            .filter(F.col("_rn") <= k).drop("_rn"))


# ------------------------------------------------------- hyperplane LSH

#: (n_planes, dim) → list of per-plane coefficient lists, computed once
_PLANE_CACHE: dict[tuple[int, int], list[list[float]]] = {}


def _hyperplane_coeffs(spark, n_planes: int, dim: int) -> list[list[float]]:
    """Driver-side hyperplane coefficients: xxhash64(plane, dim_index) scaled
    to [-1, 1] — the same deterministic values the previous inline-expression
    form produced, but computed ONCE (one 1-row job, n_planes × dim doubles)
    and embedded as literal arrays. The inline form re-hashed O(planes × dim)
    per row at scan time — pure wasted CPU on every scanned vector."""
    key = (n_planes, dim)
    if key not in _PLANE_CACHE:
        # SQL-string lambdas, NOT Column-API lambdas: building several
        # F.transform(..., lambda i, p=p: ...) closures in a loop and
        # combining them in one expression collapses them to ONE plane —
        # PySpark converts the shared lambda code object once, so every
        # "plane" got p=0's coefficients and the LSH bucketing
        # degenerated to {all-zeros, all-ones} (2 buckets — found by the
        # round-7 sf1 scale run as an all-pairs blowup). The expr form
        # carries the plane index as SQL text, so each plane is its own
        # expression by construction.
        arr = F.array(*[
            F.expr(f"transform(sequence(0, {dim - 1}), "
                   f"i -> cast(xxhash64({p}, i) as double) / {float(2 ** 63)})")
            for p in range(n_planes)
        ])
        row = spark.range(1).select(arr.alias("c")).head()
        _PLANE_CACHE[key] = [list(plane) for plane in row["c"]]
    return _PLANE_CACHE[key]


def add_lsh_bucket(df: DataFrame, vec_col: str = "embedding", n_planes: int = 8,
                   dim: int = 64, alias: str = "bucket") -> DataFrame:
    """Append an LSH bucket id (int in [0, 2^n_planes)) per row.

    Per-row cost is n_planes dot products against literal coefficient
    arrays (JVM higher-order functions, codegen'd) — no per-row hashing."""
    planes = _hyperplane_coeffs(df.sparkSession, n_planes, dim)
    terms = []
    for p, coeffs in enumerate(planes):
        proj = (f"aggregate(zip_with({vec_col}, {_lit_vec_sql(coeffs)}, "
                f"(x, c) -> cast(x as double) * c), cast(0.0 as double), "
                f"(acc, x) -> acc + x)")
        terms.append(f"cast({proj} >= 0 as int) * {1 << p}")
    return df.withColumn(alias, F.expr("0 + " + " + ".join(terms)))


def lsh_bucketed_topk(df: DataFrame, query_vec: list[float], k: int = 10,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      n_planes: int = 8, max_hamming: int = 1) -> DataFrame:
    """Approximate top-k: score only vectors whose LSH bucket is within
    `max_hamming` bits of the query's bucket.

    At scale, write the table bucketed/partitioned by `bucket` so the probe
    prunes partitions instead of filtering a full scan.
    """
    dim = len(query_vec)
    bucketed = add_lsh_bucket(df, vec_col, n_planes, dim)
    q_row = add_lsh_bucket(
        df.sparkSession.range(1).select(
            F.expr(_lit_vec_sql(query_vec)).alias("qv")),
        "qv", n_planes, dim,
    )
    q_bucket = q_row.head()["bucket"]
    cand = bucketed.filter(
        F.bit_count(F.col("bucket").bitwiseXOR(F.lit(int(q_bucket)))) <= max_hamming
    )
    return cosine_topk_bruteforce(cand, query_vec, k, id_col, vec_col)


# ------------------------------------------------------- IVF (inverted file)

def ivf_centroids(df: DataFrame, n_centroids: int = 16,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> list[list[float]]:
    """Deterministic centroid pick: the n rows with the smallest xxhash64(id)
    — a seeded uniform sample that needs no training job. Real IVF would
    k-means these; hash-sampling gives the same partition-pruning structure
    with zero iterations, which is the right trade at ingest time.

    Returns driver-side vectors (n_centroids × dim — tiny; broadcast as
    literals into the assignment expression)."""
    rows = (
        df.select(F.col(vec_col).alias("v"), F.xxhash64(F.col(id_col)).alias("_h"))
        .orderBy("_h").limit(n_centroids).collect()
    )
    return [list(r["v"]) for r in rows]


def _normalized_cents(cents: list[list[float]]) -> list[list[float]]:
    """L2-normalize centroids driver-side (C×D doubles — trivial). A
    zero-norm centroid stays all-zero (its dot with anything is 0.0, never
    NaN, so it can't spuriously win the argmax)."""
    out = []
    for cv in cents:
        nrm = sum(float(x) * float(x) for x in cv) ** 0.5
        out.append([float(x) / nrm for x in cv] if nrm > 0 else [0.0] * len(cv))
    return out


def _cell_sims(vec_col: str, cents: list[list[float]]) -> Column:
    """Per-row array of scores against each centroid: `dot(vec, ĉ_i)` over
    the pre-normalized centroid matrix. Ranking-equivalent to cosine:
    `cos(v, c) = dot(v, ĉ) / ||v||` and `||v||` is a positive per-row
    constant, so it cannot change which centroid wins — dropping it removes
    every per-row norm fold (the old form re-folded `norm(vec)` once per
    centroid per row). Single SQL-text expression — see `_lit_vec_sql`.
    The per-centroid dot is the INDEXED fold (`_dot_idx_sql`, r12): the
    zip_with form allocated a dim-element array per (row × centroid) on
    the interpreted HOF path every Lloyd pass and every assignment pays —
    the indexed fold is allocation-free and bit-identical. The vector
    is cast to array<double> ONCE per row via a `_let_sql` binding
    (r12): the per-centroid fold read the float column through a
    per-step interpreted Cast — C × dim Cast evals per row in every
    Lloyd pass and every assignment; widening is exact so every
    product (and the argmax) is bit-identical."""
    dim = len(cents[0])
    dot = (f"aggregate(sequence(1, {dim}), cast(0.0 as double), "
           f"(acc, i) -> acc + element_at(__dv, i) * element_at(cv, i))")
    return F.expr(_let_sql(
        f"cast({vec_col} as array<double>)", "__dv",
        f"transform({_lit_mat_sql(_normalized_cents(cents))}, "
        f"cv -> {dot})"))


def ivf_refine_centroids(df: DataFrame, cents: list[list[float]],
                         vec_col: str = "embedding",
                         iterations: int = 1) -> list[list[float]]:
    """Lloyd refinement: assign → per-cell mean → new centroids, repeated
    `iterations` times. Each iteration is one distributed pass + one small
    collect (n_centroids × dim); deterministic given the hash-sampled init.
    One or two iterations tighten cells enough to cut probe misses — full
    k-means convergence buys little for IVF routing and costs scans."""
    dim = len(cents[0])
    for _ in range(iterations):
        assigned = ivf_assign(df, cents, vec_col)
        means = assigned.groupBy("ivf_cell").agg(
            *[F.avg(F.col(vec_col)[i].cast("double")).alias(f"m{i}")
              for i in range(dim)])
        by_cell = {
            r["ivf_cell"]: [r[f"m{i}"] for i in range(dim)]
            for r in means.collect()
        }
        # empty cells keep their previous centroid
        cents = [by_cell.get(i + 1, cents[i]) for i in range(len(cents))]
    return cents


def ivf_train(df: DataFrame, n_centroids: int = 16, max_iter: int = 10,
              tol: float = 1e-4, id_col: str = "vec_id",
              vec_col: str = "embedding",
              init_cents: list[list[float]] | None = None) -> list[list[float]]:
    """Full k-means-style IVF index training: hash-sampled init, Lloyd
    iterations until the max centroid movement (L2) drops below `tol` or
    `max_iter` is hit. Each iteration is ONE distributed pass (assign +
    per-cell mean via partial aggregation) and a tiny driver collect
    (n_centroids × dim doubles) — the standard IVF build loop; at 100 TB
    you'd train on a uniform sample, which is what the hash-sampled init
    already models. Deterministic: init, assignment ties, and means are all
    order-independent.

    `init_cents` supplies the hash-sampled init rows when the caller has
    already collected them (r12: one TakeOrdered over the corpus can seed
    BOTH the IVF init and the PQ init — same `xxhash64(id)` ordering, a
    prefix of the same collect — instead of two scans). Must be exactly
    the first `n_centroids` vectors of the `ivf_centroids` ordering;
    results are then bit-identical to the self-collected path."""
    if init_cents is not None:
        assert len(init_cents) == n_centroids
        cents = [list(c) for c in init_cents]
    else:
        cents = ivf_centroids(df, n_centroids, id_col, vec_col)
    for _ in range(max_iter):
        new = ivf_refine_centroids(df, cents, vec_col, iterations=1)
        shift = max(
            sum((a - b) ** 2 for a, b in zip(c_old, c_new)) ** 0.5
            for c_old, c_new in zip(cents, new)
        )
        cents = new
        if shift < tol:
            break
    return cents


def ivf_assign(df: DataFrame, cents: list[list[float]],
               vec_col: str = "embedding", alias: str = "ivf_cell") -> DataFrame:
    """Assign each row to its nearest centroid cell (1-based argmax of
    `_cell_sims`). At scale this runs once at ingest and the table is
    written partitioned/bucketed by the cell id, so probes become partition
    pruning instead of a filter over a full scan.

    Single-evaluation shape: the sims array is projected into a NAMED
    intermediate column and the argmax (`array_position` of `array_max`)
    reads that column from a separate projection. Catalyst's CollapseProject
    refuses to inline non-cheap expressions referenced more than once, so
    the C×D transform is evaluated once per row — the old one-expression
    form (`array_position({sims}, array_max({sims}))`) embedded the whole
    literal-matrix transform TWICE and re-folded `norm(vec)` per centroid,
    which is what regressed the round-2 ann bench 2.4×."""
    tmp = "__ivf_sims"
    return (
        df.withColumn(tmp, _cell_sims(vec_col, cents))
        .withColumn(alias, F.expr(
            f"cast(array_position({tmp}, array_max({tmp})) as int)"))
        .drop(tmp)
    )


def _probe_cells(cents: list[list[float]], query_vec: list[float],
                 n_probe: int) -> list[int]:
    """Driver-side probe choice shared by every IVF serving path: the
    `n_probe` 1-based cell ids whose centroids are most cosine-similar
    to the query — n_centroids dot products on the driver, never a
    distributed job."""
    def cos(a: list[float], b: list[float]) -> float:
        dot = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(y * y for y in b) ** 0.5
        return dot / (na * nb) if na and nb else 0.0

    ranked = sorted(range(len(cents)), key=lambda i: -cos(query_vec, cents[i]))
    return [i + 1 for i in ranked[:n_probe]]


def ivf_topk(df: DataFrame, query_vec: list[float], k: int = 10,
             n_centroids: int = 16, n_probe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             cents: list[list[float]] | None = None) -> DataFrame:
    """IVF approximate top-k: score only rows in the `n_probe` cells whose
    centroids are most similar to the query. Probe cells are computed
    driver-side (n_centroids dot products); the scan filters to the probed
    cells, then exact cosine top-k within them.

    Pass `cents` to reuse a prebuilt index: centroid selection is an
    INGEST-time artifact (built once, reused by every probe), not per-query
    work — real IVF deployments never re-derive centroids per search."""
    if cents is None:
        cents = ivf_centroids(df, n_centroids, id_col, vec_col)
    return ivf_topk_from_df(ivf_assign(df, cents, vec_col), cents,
                            query_vec, k, n_probe, id_col, vec_col)


def quantize_embeddings(df: DataFrame, vec_col: str = "embedding",
                        q_col: str = "qvec",
                        scale_col: str = "qscale") -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    qvec[i] = round(x/scale) — an 8× memory cut for ANN candidate scans
    (dequantized cosine stays within ~1% on unit-scale vectors; the exact
    re-rank runs on the float column for the surviving top candidates).
    Zero-vector rows get scale 1.0 (all-zero qvec). Pure expressions."""
    v = F.col(vec_col)
    scale = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double")))) / 127.0
    scale = F.when(scale > 0, scale).otherwise(F.lit(1.0))
    out = df.withColumn(scale_col, scale)
    return out.withColumn(
        q_col,
        F.transform(F.col(vec_col),
                    lambda x: F.round(x.cast("double") / F.col(scale_col))
                    .cast("tinyint")))


def decontaminate_semantic(corpus: DataFrame, benchmark: DataFrame,
                           threshold: float = 0.9,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           bench_vec_col: str | None = None,
                           dim: int | None = None) -> DataFrame:
    """EMBEDDING-space decontamination — the semantic member of the
    eval-leakage family (`text.decontaminate` exact fingerprints,
    `text.decontaminate_ngrams` 13-gram overlap, `bloom` runtime
    filters): drop every corpus row whose embedding reaches cosine ≥
    `threshold` against ANY benchmark embedding, catching the
    paraphrased / re-rendered / translated eval leakage that lexical
    fingerprints structurally miss. Returns the SURVIVORS with their
    original columns.

    Scale shape: the benchmark side is an EVAL SUITE — MB-grade by
    construction — so it rides a single broadcast; the corpus side is
    ONE pass with ZERO shuffle (a BroadcastNestedLoopJoin LeftAnti
    whose join condition is the exact cosine test: each corpus row
    checks bench vectors and SHORT-CIRCUITS on the first hit, so the
    common clean row pays the full O(|bench|·dim) only when truly
    clean, and no candidate relation, id set, or re-join ever
    materializes). Exact by construction — deliberately NO projected
    prefilter, because JL projections give no completeness bound at a
    fixed cosine threshold (a pruned-then-verified variant could
    silently keep contaminated rows; wrong tool for a leakage gate).

    Per-pair cost discipline: both side's norms are computed ONCE per
    row (corpus norm as a pre-join column, bench norms inside the
    broadcast) and the join condition is the allocation-free indexed
    dot (`_dot_indexed` — no per-pair zip_with array), so a corpus row
    × bench row check is exactly dim fused multiply-adds + one divide.

    Determinism: each literal-vector dot left-folds per element exactly
    like the DuckDB replay (list_reduce), and the corpus norm is the
    same fold + correctly-rounded sqrt, so the doubles compared against
    `threshold` are bit-identical cross-engine. The bench norms are
    computed DRIVER-side with the identical left fold + sqrt (the
    `cosine_to_literal` precedent), so they too are bit-equal to the
    Spark-side `_norm` the r10 join form evaluated.

    (r11 optimization note: the original form was a
    BroadcastNestedLoopJoin LeftAnti whose per-PAIR cosine condition
    was evaluated through the join's per-pair expression machinery —
    measured ~4.4 s at sf0.1 for 5000×38 pairs. The bench side is a
    bounded eval suite, so it now collects once and rides the whole
    condition as ONE literal-matrix pass per corpus row — the
    `random_projection_sql` shape: transform over the folded-literal
    matrix computes every bench dot in a single tight evaluator walk,
    zip_with attaches the precomputed bench norms, and `exists` applies
    the threshold. The per-element arithmetic and order are identical
    to the join form (0.0 + Σ a[i]·b[i], then dot/(cnorm·bnorm) ≥ thr;
    bench norms are the same left fold + correctly-rounded sqrt, now
    computed driver-side like `cosine_to_literal`), so the survivor
    set is bit-identical: a row survives iff no bench vector reaches
    the threshold; NULL embeddings count as no-match on both forms via
    the COALESCE.)"""
    bvec = bench_vec_col or vec_col
    rows = benchmark.select(F.col(bvec).alias("_bvec")).collect()
    vecs = [[float(x) for x in r["_bvec"]] for r in rows
            if r["_bvec"] is not None]
    if not vecs:
        return corpus
    thr = float(threshold)
    orig_cols = corpus.columns
    bnorms = [_l2(v) for v in vecs]
    # indexed fold (r12, same change as _cell_sims): the zip_with form
    # allocated a dim-element product array per (corpus row × bench
    # vector); the indexed fold is allocation-free and arithmetic-
    # identical step for step (0.0 + Σ a[i]·b[i] in element order).
    # Per-row constants ride `_let_sql` bindings (r12): the projected
    # `_cnorm` alias was inlined into the per-bench-vector lambda by
    # filter pushdown — 38 norm folds per row — and every fold step
    # paid a float→double Cast eval on the interpreted HOF path. Now
    # the double-cast corpus vector (`__dv`) and its norm (`__nn`) are
    # bound once per row and read as lambda variables; the fold drops
    # its per-step casts (widening is exact, products bit-identical).
    dim_ = len(vecs[0])
    dot = (f"aggregate(sequence(1, {dim_}), cast(0.0 as double), "
           f"(acc, i) -> acc + element_at(__dv, i) * element_at(row, i))")
    sims = (f"zip_with(transform({_lit_mat_sql(vecs)}, row -> {dot}), "
            f"{_lit_vec_sql(bnorms)}, (d, n) -> d / (__nn * n))")
    # norm from __dv: same squares, same fold order, no per-step cast
    nfold = (f"sqrt(aggregate(__dv, cast(0.0 as double), "
             f"(acc, x) -> acc + x * x))")
    any_hit = F.expr(_let_sql(
        f"cast({vec_col} as array<double>)", "__dv",
        _let_sql(nfold, "__nn", f"exists({sims}, s -> s >= {thr!r}D)")))
    return (corpus
            .filter(~F.coalesce(any_hit, F.lit(False)))
            .select(*orig_cols))


def semantic_dedup(df: DataFrame, threshold: float = 0.9,
                   n_centroids: int = 16, train_iter: int = 2,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   cents: list[list[float]] | None = None,
                   max_cell_size: int | None = None,
                   cell_counts: dict[int, int] | None = None) -> DataFrame:
    """SemDedup-style semantic deduplication: cluster embeddings into IVF
    cells, then drop within-cell cosine near-duplicates, keeping the
    smallest id of each duplicate group.

    Returns (id, ivf_cell, keep) — `keep=false` rows are semantic dups of
    an earlier (smaller-id) row in the same cell.

    Scale shape: the pair search is confined to cells (self-join on the
    cell id — never all-pairs), exactly the published SemDedup recipe where
    k-means cells bound the O(n²) term to O(Σ cell²). Cross-cell dups are
    missed by construction; more centroids trade recall for cost. Norms are
    precomputed per row; the dup verdict is a left_semi against the pair
    set.

    `max_cell_size` is the hot-cell guard (same trade as
    `embedding_near_dup_pairs.max_bucket_size`): a B-member cell costs B²
    pairs, and one degenerate k-means cell — e.g. near-zero vectors
    collapsing onto a single centroid — makes the within-cell term
    quadratic at corpus scale. Cells over the cap are excluded from the
    pair search entirely (their rows come back `keep=true`): a cell that
    big means the centroid structure failed there, and bounded work beats
    a quadratic stall; rerun those rows with more centroids if they
    matter.

    `cell_counts` ({cell_id: rows}, 1-based) makes the guard FREE: cell
    population is an ingest-time statistic — the k-means training loop
    already aggregates per-cell counts every iteration, and a materialized
    index knows its partition sizes — so a deployment passes it in and the
    guard folds to a literal NOT-IN filter (zero extra scans, zero
    shuffles). Without it the counts are computed here via a broadcast
    semi-join against a ≤ n_centroids-row aggregate: correct anywhere,
    but one extra evaluation of the scan+assignment."""
    pre_assigned = "ivf_cell" in df.columns
    if cents is None and not pre_assigned:
        cents = ivf_train(df, n_centroids, max_iter=train_iter,
                          id_col=id_col, vec_col=vec_col)
    # an input that already carries `ivf_cell` (the materialized
    # cell-partitioned index layout, or a caller that assigned once and
    # shares the frame with the PQ path) skips re-assignment — same
    # contract as `semantic_dedup_pq`; the assignment is a pure function
    # of (vec, cents), so results are identical
    src = df if pre_assigned else ivf_assign(df, cents, vec_col)
    # `v` is pre-cast to array<double> ONCE PER ROW (r12): the within-cell
    # pair fold below is interpreted (HOF), and the old per-element
    # `cast(element_at(...) as double)` paid 2·dim Cast evals PER
    # CANDIDATE PAIR — O(pairs), the quadratic term — where the row cast
    # is O(rows). float→double widening is exact, so every product and
    # the fold order are bit-identical. Trade: the cell shuffle carries
    # 8-byte elements instead of 4 — linear bytes bought back by the
    # dominant per-pair interpreted saving.
    assigned = src.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"), "ivf_cell",
        _norm(F.col(vec_col)).alias("nrm"),
    )
    pairable = assigned
    if max_cell_size is not None:
        if cell_counts is not None:
            over = sorted(c for c, n in cell_counts.items()
                          if n > max_cell_size)
            if over:
                pairable = assigned.filter(~F.col("ivf_cell").isin(over))
        else:
            small = (assigned.groupBy("ivf_cell")
                     .agg(F.count("*").alias("_n"))
                     .filter(F.col("_n") <= max_cell_size).drop("_n"))
            pairable = assigned.join(F.broadcast(small), "ivf_cell",
                                     "left_semi")
    if cents is None:  # pre-assigned input, no centroids in hand
        dim = len(df.select(vec_col).first()[0])
    else:
        dim = len(cents[0])
    # pair search + verdict as ONE spark.sql call (r6 plan-time fold);
    # the dot product folds over a constant index sequence — no per-row
    # zip_with array allocation per candidate PAIR (see _dot_indexed,
    # kept as the Column-API primitive) — and the larger id of each
    # qualifying pair is the dup. The HOF fold is CodegenFallback
    # (interpreted, ~13 µs/pair), which is the documented cost model of
    # THIS exact path; the corpus-scale alternative is
    # `semantic_dedup_pq`, whose bit-packed ADC condition stays inside
    # JIT'd codegen (an unrolled 64-term dot here would exceed the JVM's
    # 8 KB JIT cutoff and run as interpreted bytecode — ~4× WORSE).
    dot = (f"aggregate(sequence(1, {dim}), cast(0.0 as double), "
           f"(acc, i) -> acc + element_at(a.v, i) * element_at(b.v, i))")
    return df.sparkSession.sql(f"""
WITH dup AS (
  SELECT DISTINCT b.id AS id
  FROM {{pairable}} a JOIN {{pairable}} b
    ON a.ivf_cell = b.ivf_cell AND a.id < b.id
  WHERE ({dot}) / (a.nrm * b.nrm) >= {float(threshold)!r}D)
SELECT s.id, s.ivf_cell, COALESCE(NOT d._dup, true) AS keep
FROM {{assigned}} s
LEFT JOIN (SELECT id, true AS _dup FROM dup) d ON s.id = d.id
""", pairable=pairable, assigned=assigned)


def semantic_dedup_pq(df: DataFrame, threshold: float = 0.9,
                      id_col: str = "vec_id", vec_col: str = "embedding",
                      cents: list[list[float]] | None = None,
                      books: list[list[list[float]]] | None = None,
                      n_centroids: int = 16, train_iter: int = 2,
                      m: int = 8, code_k: int = 16, dim: int = 64,
                      margin: float = 0.15, exact_confirm: bool = True,
                      max_cell_size: int | None = None,
                      cell_counts: dict[int, int] | None = None) -> DataFrame:
    """`semantic_dedup` with PQ-APPROXIMATE within-cell pair scoring —
    the ~linear-cost corpus-scale path (round-7 verdict item 4: the
    exact within-cell fold is n^1.5 by design with c ∝ √n cells and
    measured 139.98 s at sf10; SCALE.md names PQ scoring as the
    alternative once the within-cell pair term dominates).

    Same contract as `semantic_dedup`: returns (id, ivf_cell, keep),
    keep=false marking semantic dups of an earlier (smaller-id)
    same-cell row. The pair search is still confined to IVF cells; what
    changes is the PER-PAIR cost: instead of a dim-element exact cosine
    fold, each pair is scored by symmetric PQ distance — both vectors'
    PQ codes index a driver-side m × k × k codeword-dot table
    (T[s][ca][cb] = dot(books[s][ca], books[s][cb]), ~16 KB of
    literals), so a candidate costs m array lookups. Approximate norms
    come from a second m × k table of codeword norms². Both tables are
    ingest-time artifacts derived from the codebooks alone.

    `exact_confirm=True` (default) makes the verdict SOUND: pairs whose
    approximate cosine clears `threshold - margin` are re-scored with
    the exact fold and must clear `threshold` — so every flagged dup is
    a true dup (precision 1, same guarantee as the MinHash→exact-verify
    pattern), and only near-threshold candidates ever pay the exact
    fold. Recall is bounded by the margin: a true pair whose PQ score
    underestimates by more than `margin` is missed — the measured
    trade `semantic_dedup_pq_checks` pins. With `exact_confirm=False`
    the approximate score itself decides at `threshold` (no exact work
    at all; precision and recall both approximate).

    Scale shape at 100 TB: encode is one scan (n × m × k subspace
    dots, linear); the self-join shuffles once on the cell id exactly
    like the exact path; per-pair work drops ~dim/m ≈ 8×, and the scan
    state carried into the join is m bytes of codes + two doubles
    instead of dim floats when exact_confirm is off (the float column
    rides along only for the confirm fold)."""
    pre_assigned = "ivf_cell" in df.columns
    if cents is None and not pre_assigned:
        cents = ivf_train(df, n_centroids, max_iter=train_iter,
                          id_col=id_col, vec_col=vec_col)
    if books is None:
        books = pq_train(df, m=m, code_k=code_k, dim=dim,
                         id_col=id_col, vec_col=vec_col,
                         train_iter=train_iter)
    m_, k_ = len(books), len(books[0])
    # An input that already carries `ivf_cell` skips assignment, and one
    # that already carries `pq_code` skips encoding — the materialized
    # cell-partitioned PQ index layout (write_ivf_index with books) is
    # the intended scale source: cell routing AND codes are ingest
    # artifacts, and re-deriving either per query re-pays an
    # O(n × cells × dim) / O(n × m × k) scan.
    if "pq_code" in df.columns:
        enc = df
    else:
        enc = pq_encode(
            df if pre_assigned else ivf_assign(df, cents, vec_col),
            books, vec_col)
    nsq_terms = []
    for s in range(m_):
        tbl = [sum(float(x) * float(x) for x in cv) for cv in books[s]]
        nsq_terms.append(f"element_at({_lit_vec_sql(tbl)}, "
                         f"element_at(pq_code, {s + 1}) + 1)")
    # Bit-pack the m codes into ⌈m/per_word⌉ BIGINT words (round 8):
    # inside the pair-join condition a packed code costs one
    # shift+mask on a long instead of a null-checked array element_at,
    # which keeps the whole m-term ADC condition under HotSpot's 8 KB
    # DontCompileHugeMethods bytecode cutoff — over it, the generated
    # join loop runs as INTERPRETED BYTECODE (measured 55 µs/pair vs
    # ~25 ns JIT'd: a 94× cliff, the round-8 sf10 finding). Join
    # conditions cannot be split into sub-methods the way Project
    # expressions are, so small condition code is the only robust fix
    # (the JVM flag that lifts the cutoff was measured to 2-3× driver
    # plan time across the whole inventory).
    bits = max(1, (k_ - 1).bit_length())
    per_word = 63 // bits
    n_words = (m_ + per_word - 1) // per_word
    pk_cols = []
    for w in range(n_words):
        subs = range(w * per_word, min((w + 1) * per_word, m_))
        packed = " + ".join(
            f"cast(element_at(pq_code, {s + 1}) as bigint) "
            f"* {1 << (bits * (s - w * per_word))}L" for s in subs)
        pk_cols.append(F.expr(packed).alias(f"_pk{w}"))
    assigned = enc.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
        "ivf_cell", *pk_cols,
        _norm(F.col(vec_col)).alias("nrm"),
        F.expr(f"sqrt({' + '.join(nsq_terms)})").alias("anrm"),
    )
    # The encoded relation is referenced up to FIVE times below (both
    # pair-join sides, two confirm sides, the output scan). When the
    # codes are derived IN-PLAN (no pq_code input column), each
    # reference would inline the full encode expression tree (m
    # per-subspace score arrays over literal codebooks) — measured as a
    # 22 MiB task binary at m=16/k=32 — so a lazy localCheckpoint
    # materializes the encoded rows once (on a multi-executor cluster
    # point setCheckpointDir at shared storage and use checkpoint(),
    # same note as graph.py). When the input is the PRE-ENCODED index
    # there is no expression tree to protect, and the checkpoint would
    # actively HURT: it materializes all columns, blocking column
    # pruning — the pair join would drag the dim-float vectors it never
    # reads; un-checkpointed, each reference prunes its own index scan
    # (the pair side reads id/cell/codes only).
    if "pq_code" not in df.columns:
        assigned = assigned.localCheckpoint(eager=False)
    pairable = assigned
    if max_cell_size is not None:
        if cell_counts is not None:
            over = sorted(c for c, n in cell_counts.items()
                          if n > max_cell_size)
            if over:
                pairable = assigned.filter(~F.col("ivf_cell").isin(over))
        else:
            small = (assigned.groupBy("ivf_cell")
                     .agg(F.count("*").alias("_n"))
                     .filter(F.col("_n") <= max_cell_size).drop("_n"))
            pairable = assigned.join(F.broadcast(small), "ivf_cell",
                                     "left_semi")
    mask = (1 << bits) - 1

    def _code(side: str, s: int) -> str:
        w, j = s // per_word, s % per_word
        return (f"(shiftright({side}._pk{w}, {bits * j}) & {mask}L)")

    adc_terms = []
    for s in range(m_):
        flat = [sum(float(x) * float(y) for x, y in zip(ca, cb))
                for ca in books[s] for cb in books[s]]
        adc_terms.append(
            f"element_at({_lit_vec_sql(flat)}, "
            f"cast({_code('a', s)} * {k_} + {_code('b', s)} + 1 as int))")
    adc_cos = f"({' + '.join(adc_terms)}) / (a.anrm * b.anrm)"
    cut = float(threshold - margin) if exact_confirm else float(threshold)
    # The ADC predicate lives in the JOIN CONDITION (evaluated per
    # candidate pair inside the codegen'd hash-join loop — m folded
    # literal lookups indexed by shift/mask; small enough to JIT, see
    # the packing note above). The exact confirm must NOT live there:
    # the dim-element fold is a higher-order function (CodegenFallback),
    # and ONE such expression in the condition drops the whole pair
    # join to interpreted expression evaluation (the round-7 13 µs/pair
    # constant). Instead the (rare: O(matches)) ADC survivors re-join
    # the encoded relation by id and the exact filter rides THOSE
    # equi-joins — evaluated once per survivor, never per candidate
    # pair, so its interpreted cost is bounded by the match count.
    exact_dot = (f"aggregate(sequence(1, {dim}), cast(0.0 as double), "
                 f"(acc, i) -> acc + cast(element_at(va.v, i) as double) "
                 f"* cast(element_at(vb.v, i) as double))")
    if exact_confirm:
        dup_sql = f"""
  SELECT DISTINCT c.idb AS id
  FROM (SELECT a.id AS ida, b.id AS idb
        FROM {{pairable}} a JOIN {{pairable}} b
          ON a.ivf_cell = b.ivf_cell AND a.id < b.id
             AND {adc_cos} >= {cut!r}D) c
  JOIN {{assigned}} va ON c.ida = va.id
  JOIN {{assigned}} vb ON c.idb = vb.id
  WHERE ({exact_dot}) / (va.nrm * vb.nrm) >= {float(threshold)!r}D"""
    else:
        dup_sql = f"""
  SELECT DISTINCT b.id AS id
  FROM {{pairable}} a JOIN {{pairable}} b
    ON a.ivf_cell = b.ivf_cell AND a.id < b.id
       AND {adc_cos} >= {cut!r}D"""
    return df.sparkSession.sql(f"""
WITH dup AS ({dup_sql})
SELECT s.id, s.ivf_cell, COALESCE(NOT d._dup, true) AS keep
FROM {{assigned}} s
LEFT JOIN (SELECT id, true AS _dup FROM dup) d ON s.id = d.id
""", pairable=pairable, assigned=assigned)


def _ivf_lifecycle(cents: list[list[float]], vec_col: str,
                   books: list[list[list[float]]] | None):
    """The IVF lifecycle, encoding rows → rows + `ivf_cell` (+ `pq_code`
    with `books`) against the FROZEN codebooks."""
    def encode(df: DataFrame) -> DataFrame:
        cells = ivf_assign(df, cents, vec_col)
        return cells if books is None else pq_encode(cells, books, vec_col)

    return _Lifecycle(encode, "ivf_cell")


def write_ivf_index(df: DataFrame, path: str, cents: list[list[float]],
                    vec_col: str = "embedding",
                    books: list[list[list[float]]] | None = None) -> None:
    """Materialize the IVF index: the table written directory-partitioned
    by nearest-centroid cell (`path/ingest_epoch=0/ivf_cell=C`, generation
    0 of the lifecycle `write_rp_index` shares). This is the ingest step
    the probe docstrings promise — after it, `ivf_topk_from_index` probes
    become partition pruning (only the probed cells' directories are
    opened), not a filter over a full scan. With `books`, PQ codes are
    encoded into the layout too (a `pq_code` column) — real IVF-PQ
    systems store codes in the index, and `semantic_dedup_pq` then skips
    both assignment and encoding at query time."""
    _ivf_lifecycle(cents, vec_col, books).write(df, path, None)


def append_ivf_index(df: DataFrame, path: str, cents: list[list[float]],
                     vec_col: str = "embedding",
                     books: list[list[list[float]]] | None = None) -> None:
    """INCREMENTAL IVF maintenance (VERDICT r9 item 6, the IVF face of
    `append_rp_index`): assign ONLY the delta rows against the
    COMMITTED centroids (the codebook is frozen at bulk-build time —
    exactly how production IVF serves between retrains) and append
    them into the latest generation's cell directories: each delta row
    lands as a new file inside its cell's directory, bulk files
    untouched, so partition-pruned probes keep working unchanged over
    bulk+delta. With `books`, delta rows are PQ-encoded against the
    committed codebooks too. Because assignment and encoding are pure
    functions of (vector, committed codebooks), the appended layout is
    row-for-row identical to what a full rebuild at the same codebooks
    would store — the assertion oracle `ann_ivf_delta_checks` pins
    exactly that equality."""
    _ivf_lifecycle(cents, vec_col, books).append(df, path, None)


def delete_from_ivf_index(ids_df: DataFrame, path: str, epoch: int,
                          id_col: str = "vec_id") -> None:
    """DELETION tombstones for the IVF index — the IVF face of
    `delete_from_rp_index`, solving the problem cell partitioning
    creates: a deleted (or re-embedded) vector lives in SOME cell
    directory, and finding it to rewrite would need an id→cell lookup.
    Instead each deleted id appends a NULL-payload row as generation
    `epoch` (strictly newer, checked before the write): O(deletes)
    write, no index data touched. Its NULL cell lands in a directory
    no probe opens, so probes stay partition-pruned, while the row
    still holds its id for the latest-wins read rule — every earlier
    version of the id, in whatever cell, is dead (the per-id newest
    epoch is broadcast; deletions between compactions are small, the
    same merge-on-read smallness assumption as the rp delta set)."""
    _IVF.delete(ids_df, path, epoch, id_col)


def upsert_ivf_index(df: DataFrame, path: str, cents: list[list[float]],
                     epoch: int, vec_col: str = "embedding",
                     id_col: str = "vec_id",
                     books: list[list[list[float]]] | None = None) -> None:
    """RE-EMBEDDING upserts for the cell-partitioned IVF index: the new
    vector may belong to a DIFFERENT cell than the row it supersedes,
    so no per-cell-directory rewrite can replace it. The standard LSM
    move instead: assign the NEW vectors against the committed
    centroids and append them as generation `epoch` (strictly newer,
    checked before the write) into their (possibly new) cells.
    Latest-epoch-wins makes it atomic in effect: the old row dies
    because a newer generation holds its id, the new one lives,
    wherever each sits. Scans only the delta; bulk files immutable."""
    _ivf_lifecycle(cents, vec_col, books).append(df, path, epoch, id_col)


def compact_ivf_index(spark, path: str, id_col: str = "vec_id") -> None:
    """Apply upserts and tombstones physically with `compact_rp_index`'s
    crash-safe protocol: the alive rows become ONE fresh generation
    `ingest_epoch = max+1` (cell layout kept), then the superseded
    generations are deleted oldest first, restoring the join-free probe
    path. The index path is never overwritten, so a crash at any step
    leaves a layout the latest-wins read serves exactly (a fold
    generation holding every alive id, or a partial sweep), and the
    next compaction finishes the job — serving correctness never
    depends on compaction, the same note as the changelog sink."""
    _IVF.compact(spark, path, id_col)


def ivf_read_alive(spark, path: str, id_col: str = "vec_id") -> DataFrame:
    """The materialized IVF index's ALIVE rows (latest-wins read rule
    applied, generation column dropped)."""
    return _IVF.alive(spark, path, id_col).drop(_EPOCH)


def ivf_topk_from_index(spark, path: str, cents: list[list[float]],
                        query_vec: list[float], k: int = 10, n_probe: int = 4,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """IVF top-k against a materialized index: the `ivf_cell IN (probes)`
    predicate is a PARTITION filter on the index layout (plan-asserted in
    tests), so non-probed cells are never read. Upserts and deletion
    tombstones (`upsert_ivf_index` / `delete_from_ivf_index`), when
    present, resolve through the latest-wins read rule as a broadcast
    per-id newest-epoch table — the probe reads the same pruned
    directories either way, and the single-generation check is a
    filesystem listing (zero cost on compacted indexes)."""
    return ivf_topk_from_df(_IVF.alive(spark, path, id_col), cents,
                            query_vec, k, n_probe, id_col, vec_col)


def ivf_topk_from_df(idx: DataFrame, cents: list[list[float]],
                     query_vec: list[float], k: int = 10, n_probe: int = 4,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """IVF top-k over an index DATAFRAME whose rows already carry
    `ivf_cell` (the streaming-maintained state, or any pre-assigned
    relation): trusts the stored assignment — no per-query re-assign
    pass — filters to the probed cells and exact-cosine ranks within
    them. Same probe choice and fold order as `ivf_topk`, so results
    over the same alive rows are bit-equal to the inline path."""
    probe = _probe_cells(cents, query_vec, n_probe)
    return cosine_topk_bruteforce(idx.filter(F.col("ivf_cell").isin(probe)),
                                  query_vec, k, id_col, vec_col)


def ivf_index_stream_sink(state_dir: str, cents: list[list[float]],
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          n_buckets: int = 8,
                          books: list[list[list[float]]] | None = None):
    """foreachBatch writer maintaining the IVF index CONTINUOUSLY — the
    cell-partitioned twin of `rp_index_stream_sink` (the same sink with
    the cell encoder), completing the {rp, ivf} × {batch, stream}
    maintenance matrix: each micro-batch is assigned against the FROZEN
    centroids (only the batch is scanned; centroids are the ingest
    artifact every real IVF deployment pins between retrainings) and
    MERGED into the bucketed state keyed on id, latest micro-batch wins
    per id. Because the state is keyed by id — not laid out by cell — a
    re-embedding that MOVES CELLS is just an ordinary upsert (the
    replaced row carries the new cell), and op=-D deletions drop the
    row. Storage/merge/commit ride the changelog library's
    crash-atomic bucketed machinery (`changelog_upsert_sink` —
    O(touched buckets) per batch, idempotent replays). Serve with
    `ivf_topk_from_df` over `ivf_index_stream_read`;
    `materialize_ivf_index` hands the state back to the
    partition-pruned batch layout."""
    return _ivf_lifecycle(cents, vec_col, books).stream_sink(
        state_dir, id_col, vec_col, n_buckets)


def ivf_index_stream_read(spark, state_dir: str,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """The continuously maintained IVF state as an (id, ivf_cell, vec)
    relation — feed to `ivf_topk_from_df`. No latest-wins resolution
    and no tombstone filter: the sink merged per id at write time (per
    micro-batch over touched buckets), so the committed state IS the
    resolved index."""
    return read_upsert_state(spark, state_dir).select(
        id_col, "ivf_cell", vec_col)


def materialize_ivf_index(spark, state_dir: str, path: str,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding") -> None:
    """Flush the streaming-maintained state into the cell-PARTITIONED
    batch layout (`write_ivf_index`'s, as generation 0): the
    stream→batch handoff. The streaming state is bucketed by pk hash
    (the crash-atomic merge needs that layout), so its probes FILTER
    the state scan rather than prune directories; a periodic
    materialize restores the partition-pruned scan shape
    `ivf_topk_from_index` serves — the background job that, on a real
    cluster, turns the live ingest tail into the cold probe-optimal
    layout."""
    _IVF.write(ivf_index_stream_read(spark, state_dir, id_col, vec_col),
               path, None)


def cosine_topk_multi(df: DataFrame, queries: dict[int, list[float]],
                      k: int = 10, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Exact top-k for a BATCH of query vectors in one scan — the serving
    shape of batch ANN (N queries amortize one pass over the corpus
    instead of N passes). Returns (query_id, id, cosine_sim), per-query
    top-k, ordered desc with id tiebreak.

    The query matrix embeds as one literal array (queries are broadcast-
    sized by definition); each corpus row computes a sims ARRAY (row norm
    folded ONCE and reused across queries — 1/q of the naive per-query
    norm cost), posexplodes to (query_idx, sim), and a per-query window
    takes the top k. One scan + one shuffle on query_id; at 100 TB this
    beats per-query scans by the query count."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("id"))
    return (_multi_sims(df, queries, id_col, vec_col, "cosine_sim")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k).drop("_rn"))


# ------------------------------------------------- product quantization

def _pq_score_array(vec_col: str, sub: int, subdim: int,
                    cents: list[list[float]]) -> Column:
    """Array of L2-equivalent scores of one subvector against a codebook:
    argmin ‖v−c‖² == argmax (v·c − ‖c‖²/2). Fully UNROLLED (round 8):
    each codeword's score is an explicit subdim-term multiply-add chain
    against scalar literals — no higher-order functions, so the encode
    projection stays out of the CodegenFallback interpreted tree-walk
    path (the HOF transform/aggregate form cost ~400M interpreted evals
    at 200k rows × m=16 × k=32 × subdim=4, dominating the PQ dedup
    wall). Each term indexes the FULL vector at a statically-folded
    absolute position (round 11): the old shape re-embedded
    `slice(vec, off, subdim)` inside every element_at — k × subdim
    slice sub-trees per subspace, each allocating a fresh subvector
    array per evaluation once the oversized stage falls out of
    whole-stage codegen (m=16/k=32 busts janino's 64 KB method limit;
    interpreted eval re-runs every slice). element_at(vec, off+i) reads
    the same element with zero allocations and ~2.5× less plan tree.
    Same element order, bit-identical scores."""
    entries = []
    off = sub * subdim
    for cv in cents:
        h = sum(float(x) * float(x) for x in cv) / 2.0
        # plain double-literal syntax (`1.5D`, r12): one Literal node per
        # scalar where `cast('1.5' as double)` was Cast(Literal(string))
        # — two nodes — through parser/analyzer/optimizer. parseDouble
        # of the repr is the identical IEEE value either way (bit-level
        # unit below), and at m=16/k=32 the encode tree halves, which is
        # pure driver-side Catalyst time on every build.
        dot = " + ".join(
            f"cast(element_at({vec_col}, {off + i + 1}) as double) "
            f"* {float(cv[i])!r}D"
            for i in range(len(cv)))
        entries.append(f"({dot} - {h!r}D)")
    return F.expr("array(" + ",".join(entries) + ")")


def pq_train(df: DataFrame, m: int = 8, code_k: int = 16, dim: int = 64,
             id_col: str = "vec_id", vec_col: str = "embedding",
             train_iter: int = 2,
             init_vecs: list[list[float]] | None = None) -> list[list[list[float]]]:
    """Train product-quantization codebooks: split each vector into `m`
    contiguous subvectors and k-means each subspace independently
    (hash-sampled init + Lloyd refinement, L2 assignment). Returns
    codebooks[sub][code] — m × code_k × (dim/m) doubles, a driver-side
    constant (~8 KB) embedded as literals by encode/probe.

    Ingest-time artifact, same lifecycle as the IVF centroids: train on a
    sample once, reuse for every encode/probe. ALL m subspaces train in
    the same distributed pass (round 8): the vector explodes into
    (subspace, subvector) rows once, every row scores against its
    subspace's codebook slice of one folded literal matrix, and a single
    groupBy(s, code) partial-aggregated mean updates every codebook —
    one job per Lloyd iteration instead of m (the per-subspace loop cost
    ~m×train_iter driver-latency-bound jobs; at 200k rows that was 10 s
    of scheduling for ~1 s of work). Init and per-iteration math are
    bit-identical to the per-subspace form: the hash-sampled init picks
    the same code_k rows for every subspace (xxhash64(id) does not
    depend on s), scores fold in the same element order, and empty
    codes keep their previous codeword.

    The HOF `transform(sequence, c -> aggregate(...))` scoring is kept
    DELIBERATELY (r12): rewriting it as the serving encoder's unrolled
    `_pq_score_array` projections was A/B-measured at train 6.5 → 23.1 s
    (interleaved medians, bit-identical books) — at m=16/k=32 each Lloyd
    iteration re-ANALYZES a fresh ~2.5k-node literal tree per projection
    and the driver-side Catalyst cost dwarfs the interpreted-eval saving
    at any training-sample size (training runs on a bounded sample by
    contract, so exec never dominates here the way it does in encode).

    `init_vecs` supplies the hash-sampled init vectors when the caller
    already collected them (the first `code_k` rows of the
    `ivf_centroids` ordering — one shared TakeOrdered seeds IVF + PQ);
    bit-identical to the self-collected path by construction. Corpora
    smaller than code_k seed fewer codewords, like the self-collected
    limit(code_k)."""
    subdim = dim // m
    if init_vecs is not None:
        init_rows = [list(v) for v in init_vecs[:code_k]]
    else:
        init_rows = [list(r["v"]) for r in
                     (df.select(F.col(vec_col).alias("v"),
                                F.xxhash64(F.col(id_col)).alias("_h"))
                      .orderBy("_h").limit(code_k).collect())]
    books = [[[float(x) for x in v[s * subdim:(s + 1) * subdim]]
              for v in init_rows] for s in range(m)]
    sub = df.select(F.posexplode(F.expr(
        f"transform(sequence(0, {m - 1}), "
        f"s -> slice({vec_col}, s * {subdim} + 1, {subdim}))"))
        .alias("s", "sub"))
    for _ in range(train_iter):
        flat = [float(x) for book in books for cv in book for x in cv]
        halves = [sum(float(x) * float(x) for x in cv) / 2.0
                  for book in books for cv in book]
        score = (f"transform(sequence(0, {code_k - 1}), c -> "
                 f"aggregate(sequence(1, {subdim}), cast(0.0 as double), "
                 f"(acc, i) -> acc + cast(element_at(sub, i) as double) "
                 f"* element_at({_lit_vec_sql(flat)}, "
                 f"(s * {code_k} + c) * {subdim} + i)) "
                 f"- element_at({_lit_vec_sql(halves)}, s * {code_k} + c + 1))")
        means = (sub
                 .withColumn("code", F.expr(
                     f"cast(array_position({score}, "
                     f"array_max({score})) as int)"))
                 .groupBy("s", "code").agg(
                     *[F.avg(F.col("sub")[i].cast("double")).alias(f"m{i}")
                       for i in range(subdim)]))
        by_key = {(r["s"], r["code"]): [r[f"m{i}"] for i in range(subdim)]
                  for r in means.collect()}
        books = [[by_key.get((s, c + 1), books[s][c])
                  for c in range(code_k)] for s in range(m)]
    return books


def pq_encode(df: DataFrame, books: list[list[list[float]]],
              vec_col: str = "embedding",
              code_col: str = "pq_code") -> DataFrame:
    """Encode each vector as `m` small code ints (argmin-L2 per subspace)
    — an 8-byte-per-vector ANN representation (64 floats → 8 codes, 32×
    smaller scan state). Pure expressions: per subspace one literal-
    codebook score array + argmax, single named projection each so
    nothing is double-evaluated (the lesson from the round-2 IVF
    regression)."""
    m = len(books)
    subdim = len(books[0][0])
    # TWO projections total, built as single selects (round 11): every
    # JVM-side transformation analyzes its whole plan eagerly, so the
    # old m sequential withColumns re-analyzed a growing
    # thousands-of-literal-nodes tree m+2 times — quadratic driver
    # work that dominated the encode's plan construction at m=16/k=32.
    score_cols = [
        _pq_score_array(vec_col, s, subdim, books[s]).alias(f"__pq_sc{s}")
        for s in range(m)]
    code_exprs = [
        f"cast(array_position(__pq_sc{s}, array_max(__pq_sc{s})) - 1 as int)"
        for s in range(m)]
    scored = df.select("*", *score_cols)
    return scored.select(
        *[c for c in df.columns],
        F.expr(f"array({','.join(code_exprs)})").alias(code_col))


def _adc_terms(books: list[list[list[float]]], query_vec: list[float],
               code_col: str) -> list[str]:
    """The ADC lookup of every subspace: T[s][c] = dot(q_s, codebook[s][c])
    premultiplied driver-side (m × code_k doubles), indexed per row by the
    stored code — so scoring a candidate costs m array lookups."""
    subdim = len(books[0][0])
    terms = []
    for s, book in enumerate(books):
        qs = query_vec[s * subdim:(s + 1) * subdim]
        table = [sum(float(x) * float(y) for x, y in zip(qs, cv))
                 for cv in book]
        terms.append(f"element_at({_lit_vec_sql(table)}, "
                     f"element_at({code_col}, {s + 1}) + 1)")
    return terms


def pq_topk(encoded: DataFrame, books: list[list[list[float]]],
            query_vec: list[float], k: int = 10, rerank: int = 100,
            id_col: str = "vec_id", vec_col: str = "embedding",
            code_col: str = "pq_code") -> DataFrame:
    """PQ approximate top-k with exact re-rank: ADC scoring — the query is
    pre-multiplied into m lookup tables T[s][c] = dot(q_s, c) driver-side
    (m × code_k doubles), so scanning a candidate costs m array lookups
    instead of `dim` multiplies; the top `rerank` by ADC score are then
    re-ranked by exact cosine on the float column. Standard IVF-PQ probe
    economics: the cheap pass bounds the expensive pass."""
    adc = F.expr(" + ".join(_adc_terms(books, query_vec, code_col)))
    cand = (encoded.withColumn("_adc", adc)
            .orderBy(F.desc("_adc"), F.asc(id_col)).limit(rerank))
    return cosine_topk_bruteforce(cand, query_vec, k, id_col, vec_col)


def embedding_near_dup_pairs(df: DataFrame, threshold: float = 0.95,
                             id_col: str = "vec_id", vec_col: str = "embedding",
                             n_planes: int = 8, dim: int = 64,
                             max_bucket_size: int | None = None) -> DataFrame:
    """All-pairs cosine ≥ threshold, bucket-pruned: pairs must share an LSH
    bucket (self-join on bucket), then exact cosine filter.
    Returns (id_a, id_b, cosine_sim), id_a < id_b.

    Row norms are computed ONCE per row before the self-join — inside the
    pair expression each norm would be re-evaluated per CANDIDATE (O(pairs)
    instead of O(rows) norm folds, the dominant cost in dense buckets).

    `max_bucket_size` drops over-dense buckets before the self-join (a
    B-member bucket costs B² pairs — one degenerate bucket, e.g. the
    zero-vector bucket, can dominate the job at corpus scale); see the
    stop-bucket note on dedup.lsh_candidates_from_signatures."""
    # v pre-cast to array<double> once per row (r12, same trade as
    # semantic_dedup): the per-pair indexed dot otherwise pays 2·dim
    # interpreted Cast evals per candidate; widening is exact so the
    # emitted cosine is bit-identical (the checks oracle re-derives it).
    bucketed = add_lsh_bucket(df, vec_col, n_planes, dim).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"), "bucket",
        _norm(F.col(vec_col)).alias("nrm"),
    )
    if max_bucket_size is not None:
        small = (bucketed.groupBy("bucket").agg(F.count("*").alias("_n"))
                 .filter(F.col("_n") <= max_bucket_size).drop("_n"))
        bucketed = bucketed.join(small, "bucket", "left_semi")
    a, b = bucketed.alias("a"), bucketed.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            (_dot_indexed(F.col("a.v"), F.col("b.v"), dim)
             / (F.col("a.nrm") * F.col("b.nrm"))).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


# ------------------------------------------------------------- IVF-PQ

def _residual_expr(cents: list[list[float]], vec_col: str) -> Column:
    """vec − centroid[ivf_cell]: the residual PQ encodes in an IVF-PQ
    index (a scan-local zip_with against the literal centroid matrix)."""
    return F.expr(
        f"zip_with({vec_col}, element_at({_lit_mat_sql(cents)}, ivf_cell), "
        f"(a, b) -> cast(a as double) - b)")


def ivfpq_build(df: DataFrame, path: str, cents: list[list[float]],
                m: int = 8, code_k: int = 16, dim: int = 64,
                id_col: str = "vec_id", vec_col: str = "embedding",
                train_iter: int = 2) -> list[list[list[float]]]:
    """Build a FAISS-style IVF-PQ index: assign each vector to its IVF
    cell, PQ-encode the RESIDUAL (vector − cell centroid — residuals are
    tighter-distributed than raw vectors, so the same codebook budget
    quantizes finer; this is what separates IVF-PQ from independently
    applying IVF and PQ), and write the table directory-partitioned by
    cell with the m code ints alongside the float column for re-rank.
    Returns the trained residual codebooks.

    Ingest lifecycle: train + encode + write happen once; probes read
    only the probed cells' directories (partition pruning) and scan 8
    code ints per row. At 100 TB this is the standard serving layout —
    coarse pruning from IVF, 32× scan-state compression from PQ."""
    assigned = ivf_assign(df, cents, vec_col)
    res = assigned.withColumn("_res", _residual_expr(cents, vec_col))
    books = pq_train(res, m=m, code_k=code_k, dim=dim,
                     id_col=id_col, vec_col="_res", train_iter=train_iter)
    enc = pq_encode(res, books, vec_col="_res").drop("_res")
    enc.write.mode("overwrite").partitionBy("ivf_cell").parquet(path)
    return books


def ivfpq_topk(spark, path: str, cents: list[list[float]],
               books: list[list[list[float]]], query_vec: list[float],
               k: int = 10, n_probe: int = 4, rerank: int = 100,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Probe an IVF-PQ index: pick the `n_probe` most-query-similar cells
    driver-side (n_centroids dot products), read ONLY those partitions,
    ADC-score the residual codes — dot(q, vec) ≈ dot(q, centroid_cell) +
    Σ_s T[s][code_s] with T[s][c] = dot(q_s, codebook[s][c]) premultiplied
    driver-side, so the additive decomposition holds exactly through the
    residual — take the top `rerank` by ADC and re-rank them by exact
    cosine on the float column. Cheap pass bounds the expensive pass;
    non-probed cells are never read (partition pruning, plan-asserted in
    units)."""
    qdotc = [sum(float(x) * float(y) for x, y in zip(query_vec, c))
             for c in cents]
    adc = F.expr(f"element_at({_lit_vec_sql(qdotc)}, ivf_cell) + "
                 + " + ".join(_adc_terms(books, query_vec, "pq_code")))
    cand = (spark.read.parquet(path)
            .filter(F.col("ivf_cell").isin(
                _probe_cells(cents, query_vec, n_probe)))
            .withColumn("_adc", adc)
            .orderBy(F.desc("_adc"), F.asc(id_col)).limit(rerank))
    return cosine_topk_bruteforce(cand, query_vec, k, id_col, vec_col)


# ------------------------------------------------- contrastive mining

def contrastive_triplets(df: DataFrame, threshold: float = 0.95,
                         k_neg: int = 2, seed: str = "t1",
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         n_planes: int = 8, dim: int = 64,
                         n_rows: int | None = None) -> DataFrame:
    """Mine (anchor, positive, negative) training triplets for contrastive
    embedding learning: positives are the LSH-pruned near-duplicate pairs
    (cosine ≥ threshold — `embedding_near_dup_pairs`' machinery, never
    all-pairs); negatives are k deterministic pseudo-random picks per
    anchor, md5(seed-anchor-j) mod N, kept only when they are NOT
    accidentally similar (cosine(anchor, negative) < threshold — the
    standard false-negative filter). Returns
    (anchor, positive, negative, cos_ap, cos_an).

    Everything is a pure function of (data, seed): the same triplets come
    out on any partitioning or engine — the property a resumable training
    pipeline needs from its data-mining step. Negative lookups are an
    equi-join on the derived id (shuffle ∝ pairs × k, each row two longs
    + one vector), cosines are the shared indexed-dot fold.

    `n_rows` (the id-space size N) is a driver-known ingest stat; pass it
    to keep the plan collect-free — left None, one tiny max() lookup runs
    at plan time."""
    if n_rows is None:
        n_rows = df.agg(F.max(id_col)).first()[0] + 1
    pos = embedding_near_dup_pairs(df, threshold, id_col, vec_col,
                                   n_planes, dim)
    negs = F.array(*[
        F.conv(F.substring(F.md5(F.concat(
            F.lit(f"{seed}-"), F.col("id_a").cast("string"),
            F.lit(f"-{j}"))), 1, 15), 16, 10).cast("bigint") % n_rows
        for j in range(k_neg)
    ])
    cand = (pos.select(F.col("id_a").alias("anchor"),
                       F.col("id_b").alias("positive"),
                       F.col("cosine_sim").alias("cos_ap"),
                       F.explode(negs).alias("negative"))
            .filter((F.col("negative") != F.col("anchor"))
                    & (F.col("negative") != F.col("positive"))))
    vecs = df.select(F.col(id_col), F.col(vec_col),
                     _norm(F.col(vec_col)).alias("_nrm"))
    a = vecs.select(F.col(id_col).alias("anchor"),
                    F.col(vec_col).alias("_va"), F.col("_nrm").alias("_na"))
    n = vecs.select(F.col(id_col).alias("negative"),
                    F.col(vec_col).alias("_vn"), F.col("_nrm").alias("_nn"))
    return (
        cand.join(a, "anchor").join(n, "negative")
        .withColumn("cos_an", _dot_indexed(F.col("_va"), F.col("_vn"), dim)
                    / (F.col("_na") * F.col("_nn")))
        .filter(F.col("cos_an") < threshold)
        .select("anchor", "positive", "negative", "cos_ap", "cos_an")
    )


def vector_mean_by_key(df: DataFrame, key_col: str,
                       vec_col: str = "embedding",
                       scale: int = 12) -> DataFrame:
    """Element-wise mean vector per key — chunk-embeddings → document
    embedding pooling, per-class prototype/centroid computation, cluster
    summarization. Returns (key, n, centroid array<double>).

    Determinism: plain per-dimension double sums are fold-order-dependent
    (partition order varies run to run and engine to engine), so each
    dimension sums through the DECIMAL(30, scale) exact path
    (`aggregations.exact_sum`) before the one double division, and the
    mean is rounded to 9 digits — the decimal cast's rounding MODE at the
    scale boundary differs across engines (half-up vs half-even), a
    ±1 ulp-of-scale input delta that the final round absorbs (the same
    exact-sum + rounded-mean recipe as the LM nll scorers).

    Plan shape: posexplode → ONE partial-aggregated shuffle keyed by
    (key, dim) — shuffle volume ∝ keys × dim after map-side combine, not
    rows × dim — then a per-key sorted array rebuild (second small
    shuffle over keys × dim rows). No Python, no whole-vector state in
    any aggregate buffer."""
    from felixzh_flink_spark.operators.aggregations import exact_sum

    exploded = df.select(
        F.col(key_col), F.posexplode(vec_col).alias("idx", "_v")
    ).withColumn("_v", F.col("_v").cast("double"))
    per_dim = (exploded.groupBy(key_col, "idx")
               .agg(F.count("*").alias("_n"),
                    exact_sum("_v", scale, "_s"))
               .withColumn("_m", F.round(
                   F.col("_s") / F.col("_n").cast("double"), 9)))
    return (per_dim.groupBy(key_col)
            .agg(F.max("_n").cast("bigint").alias("n"),
                 F.expr("transform(array_sort(collect_list(struct(idx, _m))), "
                        "s -> s._m)").alias("centroid")))
