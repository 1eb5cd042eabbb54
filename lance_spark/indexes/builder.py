"""Staged distributed vector-index building — the reference's
``lance.indices`` surface (python/python/lance/indices/builder.py:26-408,
ivf.py, pq.py).

``create_dataset_index`` builds an index in one call; this staged API is
for pipelines that CHECKPOINT between steps at 100 TB scale: train models
once (cheap, sample-bound), run the expensive distributed transform pass
(restartable per fragment-set), shuffle codes into partition order, then
commit. Each stage maps to its Spark-native equivalent:

  train_ivf / train_pq      driver kmeans over a bounded scanner sample
                            (the reference trains on a sample too)
  assign_ivf_partitions     one Arrow-batched pandas_udf pass → parquet of
                            (rowid, partition_id)
  transform_vectors         same pass also PQ-encoding residuals → unsorted
                            parquet of (id, vec, partition_id, pq_code)
  shuffle_transformed       repartition(partition_id) + partitionBy write —
  _vectors                  Spark's exchange IS the reference's shuffler
                            (rust/lance-index/src/vector/ivf/shuffler.rs)
  load_shuffled_vectors     assemble the index directory (centroids /
                            codebooks / radii / meta.json) and commit
                            IndexMeta into the dataset manifest

Models save/load as numpy + JSON so a training job and a commit job can be
different processes (the reference stores them as lance files; the format
is private to each implementation).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from lance_spark.io import read_table, record_schema, recorded_schema, write_table
from lance_spark.indexes.vector import (
    IvfIndex,
    _as_matrix,
    _normalize,
    _write_codes,
    compute_partition_radii,
    train_kmeans,
    train_pq_codebooks,
)

_DISTANCE_TYPES = ("l2", "cosine", "dot")


class IvfModel:
    """Trained IVF centroids (reference indices/ivf.py:9)."""

    def __init__(self, centroids: np.ndarray, distance_type: str = "l2"):
        if distance_type not in _DISTANCE_TYPES:
            raise ValueError(f"distance_type must be one of {_DISTANCE_TYPES}")
        self.centroids = np.asarray(centroids, dtype=np.float32)
        self.distance_type = distance_type

    @property
    def num_partitions(self) -> int:
        return self.centroids.shape[0]

    def save(self, uri: str) -> None:
        os.makedirs(uri, exist_ok=True)
        np.save(os.path.join(uri, "centroids.npy"), self.centroids)
        with open(os.path.join(uri, "ivf_model.json"), "w") as fh:
            json.dump({"distance_type": self.distance_type}, fh)

    @classmethod
    def load(cls, uri: str) -> "IvfModel":
        with open(os.path.join(uri, "ivf_model.json")) as fh:
            meta = json.load(fh)
        return cls(
            np.load(os.path.join(uri, "centroids.npy")), meta["distance_type"]
        )


class PqModel:
    """Trained PQ codebooks, shape (num_subvectors, 256, sub_dim)
    (reference indices/pq.py:9)."""

    def __init__(self, num_subvectors: int, codebook: np.ndarray):
        self.num_subvectors = int(num_subvectors)
        self.codebook = np.asarray(codebook, dtype=np.float32)
        assert self.codebook.shape[0] == self.num_subvectors

    @property
    def dimension(self) -> int:
        return self.codebook.shape[0] * self.codebook.shape[2]

    def save(self, uri: str) -> None:
        os.makedirs(uri, exist_ok=True)
        np.save(os.path.join(uri, "codebooks.npy"), self.codebook)
        with open(os.path.join(uri, "pq_model.json"), "w") as fh:
            json.dump({"num_subvectors": self.num_subvectors}, fh)

    @classmethod
    def load(cls, uri: str) -> "PqModel":
        with open(os.path.join(uri, "pq_model.json")) as fh:
            meta = json.load(fh)
        return cls(meta["num_subvectors"], np.load(os.path.join(uri, "codebooks.npy")))


class IndicesBuilder:
    """Stage-by-stage index construction (reference builder.py:26).

    Unlike the reference ctor, ``spark`` is explicit — every read here is a
    Spark job, matching the repo-wide convention that dataset methods take
    the session."""

    def __init__(self, dataset, column: str, spark: SparkSession):
        self.dataset = dataset
        self.column = column
        self.spark = spark

    # ------------------------------------------------------------ training
    def _sample(self, n: int, distance_type: str) -> np.ndarray:
        # null vectors are unindexable (reference mostly_null behavior).
        # Layout-unbiased, content-deterministic sampling: hash-bucket
        # prefilter + smallest-hash cap (same rule and rationale as
        # build_ivf — a limit() sample of a time-ordered 100 TB table
        # trains centroids on one temporal slice).
        from pyspark.sql import functions as F

        df = self.dataset.scanner(
            self.spark, columns=[self.column], filter=f"`{self.column}` IS NOT NULL",
        )
        h = F.xxhash64(F.col(self.column).cast("array<float>"), F.lit(42))
        cand = df.select(F.col(self.column), h.alias("__h"))
        # size the hash-bucket prefilter from the NON-NULL row count:
        # count_rows() includes nulls, so on a mostly-null column the
        # expected survivors would shrink by the null fraction — silently
        # under-sampling or even raising despite enough vectors (ADVICE r9)
        every = max(1, df.count() // (2 * max(n, 1)))
        if every > 1:
            cand = cand.filter(F.pmod(F.col("__h"), F.lit(every)) == 0)
        sample = _as_matrix(
            cand.orderBy("__h").limit(n).toPandas()[self.column]
        ).astype(np.float64)
        if len(sample) == 0:
            raise ValueError("no non-null vectors to train on")
        # canonical order: centroids are a function of the sample SET, not
        # of scan parallelism (same rule as build_ivf)
        sample = sample[np.lexsort(sample.T[::-1])]
        if distance_type == "cosine":
            sample = _normalize(sample)
        return sample

    def train_ivf(
        self,
        num_partitions: int | None = None,
        *,
        distance_type: str = "l2",
        sample_rate: int = 256,
        max_iters: int = 50,
    ) -> IvfModel:
        """K-means centroids from a sample_rate·num_partitions-row sample
        (reference builder.py:60). num_partitions defaults to ~√num_rows."""
        if distance_type not in _DISTANCE_TYPES:
            raise ValueError(f"distance_type must be one of {_DISTANCE_TYPES}")
        num_rows = self.dataset.count_rows()
        if num_partitions is None:
            # same default AND 4096 clamp as build_ivf (vector.py:415-420):
            # unclamped sqrt on a 100M-row dataset means a 10k-way driver
            # kmeans over a 2.56M-vector toPandas sample
            num_partitions = max(1, min(4096, int(round(np.sqrt(num_rows)))))
        sample = self._sample(
            min(num_rows, sample_rate * num_partitions), distance_type
        )
        cents = train_kmeans(sample, num_partitions, iters=max_iters)
        return IvfModel(cents, distance_type)

    def train_pq(
        self,
        ivf_model: IvfModel,
        num_subvectors: int | None = None,
        *,
        sample_rate: int = 256,
        max_iters: int = 50,
    ) -> PqModel:
        """Per-subvector 256-entry codebooks over IVF residuals (reference
        builder.py:149). num_subvectors defaults to dim/16 or dim/8."""
        dim = ivf_model.centroids.shape[1]
        if num_subvectors is None:
            if dim % 16 == 0:
                num_subvectors = dim // 16
            elif dim % 8 == 0:
                num_subvectors = dim // 8
            else:
                raise ValueError(
                    f"dimension {dim} not divisible by 16 or 8; "
                    "specify num_subvectors explicitly"
                )
        if dim % num_subvectors:
            raise ValueError(f"dim {dim} not divisible by num_subvectors {num_subvectors}")
        num_rows = self.dataset.count_rows()
        sample = self._sample(min(num_rows, sample_rate * 256), ivf_model.distance_type)
        codebook = train_pq_codebooks(
            sample, ivf_model.centroids, num_subvectors, iters=max_iters,
            sc=self.spark.sparkContext,
        )
        return PqModel(num_subvectors, codebook)

    # ------------------------------------------------------ distributed pass
    def _transform_df(
        self, ivf: IvfModel, pq: PqModel | None, fragments=None
    ) -> DataFrame:
        from lance_spark.indexes.vector import _assign_encode_df
        from lance_spark.write import ROWID_COL

        fids = None
        if fragments is not None:
            if len(fragments) == 0:
                raise ValueError("fragments must be a non-empty list or None")
            fids = [f.id if hasattr(f, "id") else int(f) for f in fragments]
        df = self.dataset.scanner(
            self.spark, columns=[self.column], filter=f"`{self.column}` IS NOT NULL",
            with_row_id=True, fragments=fids,
        )
        # the ONE shared assign+encode kernel (vector.py:686) — a third
        # hand-copy of the GEMM assign / per-subvector argmin here drifted
        # from the monolithic path by construction (r13 review). The staged
        # API stages IVF_FLAT/IVF_PQ only, so SQ/RQ artifacts are None and
        # their rq_* columns are dropped.
        out = _assign_encode_df(
            df, self.column, ROWID_COL, self.spark, ivf.centroids,
            pq.codebook if pq else None, None, None,
            ivf.distance_type == "cosine",
        )
        out = out.drop("rq_norm", "rq_corr")
        covered = fids if fids is not None else [f.id for f in self.dataset.manifest.fragments]
        return out, covered

    def assign_ivf_partitions(
        self, ivf_model: IvfModel, *, output_uri: str
    ) -> str:
        """Distributed (rowid → partition_id) assignment written as parquet
        (reference builder.py:206 writes a precomputed-partitions dataset).
        Feed the returned uri to ``transform_vectors(partition_ds_uri=)``
        to skip re-assignment."""
        out, _ = self._transform_df(ivf_model, None)
        write_table(out.select("id", "partition_id"), output_uri)
        return output_uri

    def transform_vectors(
        self,
        ivf: IvfModel,
        pq: PqModel | None,
        dest_uri: str,
        fragments=None,
        partition_ds_uri: str | None = None,
    ) -> str:
        """One distributed pass producing the UNSORTED transform output
        (id, vec, partition_id, pq_code) as parquet (reference
        builder.py:261). ``fragments`` restricts the pass (restartable
        chunking at scale); ``partition_ds_uri`` left-joins precomputed
        assignments — rows the precompute missed (appended since) keep
        their freshly-computed partition instead of being dropped.

        The fragment ids this pass covered are recorded in a
        ``_coverage.json`` sidecar (underscore prefix → invisible to
        parquet readers); shuffle/load union these so the committed
        IndexMeta claims exactly the transformed fragments."""
        out, covered = self._transform_df(ivf, pq, fragments)
        if partition_ds_uri is not None:
            pre = read_table(self.spark, partition_ds_uri).select(
                "id", F.col("partition_id").alias("pre_pid")
            )
            out = out.join(pre, "id", "left").withColumn(
                "__final_pid", F.coalesce("pre_pid", "partition_id")
            )
            if pq is not None:
                # the stored pq_code is the residual against the partition's
                # centroid — if the precomputed assignment disagrees with
                # the fresh one (stale precompute, tie-break drift), the
                # code must be re-encoded against the partition actually
                # stored, or ADC distances would be computed off the wrong
                # centroid
                cent_b = self.spark.sparkContext.broadcast(ivf.centroids)
                cb_b = self.spark.sparkContext.broadcast(pq.codebook)
                cosine = ivf.distance_type == "cosine"

                @pandas_udf("array<smallint>")
                def enc_at(vec: pd.Series, pid: pd.Series) -> pd.Series:
                    cents = cent_b.value.astype(np.float32)
                    cbs = cb_b.value
                    x = _as_matrix(vec)
                    if cosine:
                        x = _normalize(x)
                    p = pid.to_numpy().astype(np.int64)
                    m, _, sub = cbs.shape
                    resid = x - cents[p]
                    code = np.empty((len(x), m), dtype=np.int16)
                    for j in range(m):
                        r = resid[:, j * sub : (j + 1) * sub]
                        cb = cbs[j]
                        d = (r * r).sum(axis=1, keepdims=True) - 2 * (r @ cb.T) + (cb * cb).sum(axis=1)
                        code[:, j] = d.argmin(axis=1).astype(np.int16)
                    return pd.Series(list(code))

                # filtered union, NOT when/otherwise: Spark extracts Python
                # UDFs out of CASE WHEN and evaluates them for EVERY row —
                # the precompute path would pay the full encode twice
                # (r13 review). Re-encode only the disagreeing rows.
                match = out.filter(F.col("__final_pid") == F.col("partition_id"))
                mism = out.filter(
                    F.col("__final_pid") != F.col("partition_id")
                ).withColumn("pq_code", enc_at(F.col("vec"), F.col("__final_pid")))
                out = match.unionByName(mism)
            out = (
                out.withColumn("partition_id", F.col("__final_pid"))
                .drop("pre_pid", "__final_pid")
            )
        write_table(out, dest_uri)
        with open(os.path.join(dest_uri, "_coverage.json"), "w") as fh:
            json.dump({"fragment_ids": covered}, fh)
        return dest_uri

    def shuffle_transformed_vectors(
        self,
        unsorted_filenames: list[str],
        dir_path: str,
        ivf: IvfModel,
        shuffle_output_root_filename: str = "sorted",
    ) -> list[str]:
        """Partition-sort the unsorted transform outputs (reference
        builder.py:317): repartition on partition_id + partitionBy write —
        one shuffle, the exact exchange the reference's shuffler performs.
        Returns the partition directories under ``dir_path/<root>``."""
        if not isinstance(unsorted_filenames, list):
            raise ValueError("filenames must be a list of strings")
        out_dir = os.path.join(dir_path, shuffle_output_root_filename)
        src = [
            f if os.path.isabs(f) else os.path.join(dir_path, f)
            for f in unsorted_filenames
        ]
        _write_codes(read_table(self.spark, src), out_dir, ivf.num_partitions)
        covered: set[int] = set()
        for s in src:
            cov = os.path.join(s, "_coverage.json")
            if os.path.exists(cov):
                with open(cov) as fh:
                    covered.update(json.load(fh)["fragment_ids"])
        with open(os.path.join(out_dir, "_coverage.json"), "w") as fh:
            json.dump({"fragment_ids": sorted(covered)}, fh)
        return sorted(
            os.path.join(shuffle_output_root_filename, d)
            for d in os.listdir(out_dir)
            if d.startswith("partition_id=")
        )

    def load_shuffled_vectors(
        self,
        filenames: list[str],
        dir_path: str,
        ivf: IvfModel,
        pq: PqModel | None,
        index_name: str | None = None,
    ):
        """Assemble the index directory from the sorted files and COMMIT it
        into the dataset manifest (reference builder.py:360). Computes the
        per-partition covering radii (one distributed aggregation) so
        distance_range pruning works, then records IndexMeta with fragment
        coverage — the same commit ``create_dataset_index`` makes."""
        if not isinstance(filenames, list):
            raise ValueError("filenames must be a list of strings")
        from lance_spark import manifest as mf
        from lance_spark.dataset import LanceDataset
        from lance_spark.write import ROWID_COL

        ds = self.dataset
        name = index_name or f"{self.column}_idx"
        rel = os.path.join("_indices", name)
        live_uri = os.path.join(ds.uri, rel)
        # NEVER clobber a live committed index in place (build_ivf's rebuild
        # discipline, vector.py:542-547): assemble the full layout in a
        # staging sibling, run the radii job against it, and only then swap
        # — a failed Spark job or commit leaves the live index untouched
        uri = f"{live_uri}.staging-{os.getpid()}"
        codes_dir = os.path.join(uri, "codes")
        if os.path.isdir(uri):
            shutil.rmtree(uri)
        os.makedirs(uri, exist_ok=True)
        os.makedirs(codes_dir, exist_ok=True)
        # move the sorted partition directories into the index layout;
        # coverage sidecars written by transform/shuffle name the fragments
        # this index actually indexed (a subset-transform leaves the rest
        # on the flat-search tail, not silently unsearchable)
        # union coverage across ALL distinct source dirs: a multi-chunk
        # transform flow shuffles into several output dirs, each with its
        # own _coverage.json — stopping at the first would leave later
        # chunks' fragments in the codes AND on the flat-search tail
        # (duplicate candidates, wrong coverage accounting)
        covered_ids: set[int] = set()
        seen_dirs: set[str] = set()
        any_sidecar = False
        for f in filenames:
            src = f if os.path.isabs(f) else os.path.join(dir_path, f)
            d = os.path.dirname(src)
            if d not in seen_dirs:
                seen_dirs.add(d)
                cov = os.path.join(d, "_coverage.json")
                if os.path.exists(cov):
                    any_sidecar = True
                    with open(cov) as fh:
                        covered_ids.update(json.load(fh)["fragment_ids"])
            dst = os.path.join(codes_dir, os.path.basename(src))
            if os.path.isdir(dst) and os.path.isdir(src):
                # same partition from two shuffle chunks (multi-dir flow):
                # merge file contents — a bare move would NEST the second
                # dir inside the first and corrupt the parquet layout
                for item in os.listdir(src):
                    if item.startswith(("_", ".")):
                        continue  # _SUCCESS / .crc markers collide by name
                    shutil.move(os.path.join(src, item), os.path.join(dst, item))
                shutil.rmtree(src)
            else:
                shutil.move(src, dst)
        if any_sidecar and covered_ids:
            covered = sorted(covered_ids)
        else:
            covered = [f.id for f in ds.manifest.fragments]
        # the shuffle roots recorded the codes schema; the partition dirs
        # moved out of them carry it over to the assembled codes table
        schemas = {recorded_schema(d) for d in seen_dirs}
        if len(schemas) == 1 and None not in schemas:
            record_schema(codes_dir, schemas.pop())

        radii = compute_partition_radii(
            self.spark, codes_dir, ivf.centroids, ivf.distance_type == "cosine"
        )
        np.save(os.path.join(uri, "radii.npy"), radii)
        np.save(os.path.join(uri, "centroids.npy"), ivf.centroids)
        if pq is not None:
            np.save(os.path.join(uri, "codebooks.npy"), pq.codebook)
        with open(os.path.join(uri, "meta.json"), "w") as fh:
            json.dump(
                {
                    "index_type": "IVF_PQ" if pq is not None else "IVF_FLAT",
                    "metric": ivf.distance_type,
                    "num_partitions": int(ivf.num_partitions),
                    "num_sub_vectors": pq.num_subvectors if pq else None,
                    "dim": int(ivf.centroids.shape[1]),
                    "id_col": ROWID_COL,
                    "vec_col": self.column,
                },
                fh,
            )
        params = {
            "metric": ivf.distance_type,
            "num_partitions": int(ivf.num_partitions),
            "num_sub_vectors": pq.num_subvectors if pq else None,
        }

        def build(base, version):
            return mf.Manifest.evolve(
                base, version, operation="create_index",
                indices=[i for i in base.indices if i.name != name]
                + [
                    mf.IndexMeta(
                        name=name,
                        index_type="IVF_PQ" if pq is not None else "IVF_FLAT",
                        column=self.column,
                        path=rel,
                        fragment_ids=covered,
                        params=params,
                    )
                ],
            )

        IvfIndex(uri)  # validate the assembled layout opens BEFORE the swap
        # swap staging -> live (bpe_save pattern: clear stale backup, keep
        # the old generation restorable across the two-rename window)
        backup = f"{live_uri}.old-{os.getpid()}"
        shutil.rmtree(backup, ignore_errors=True)
        moved_aside = False
        if os.path.isdir(live_uri):
            os.replace(live_uri, backup)
            moved_aside = True
        try:
            os.replace(uri, live_uri)
        except BaseException:
            if moved_aside and not os.path.isdir(live_uri):
                os.replace(backup, live_uri)
            raise
        try:
            mf.commit(ds.uri, build, operation="create_index")
        except BaseException:
            # failed commit: the manifest still references the OLD index —
            # put the old generation back so it keeps resolving
            if moved_aside:
                shutil.rmtree(live_uri, ignore_errors=True)
                if not os.path.isdir(live_uri):
                    os.replace(backup, live_uri)
            raise
        shutil.rmtree(backup, ignore_errors=True)
        return LanceDataset(ds.uri)
