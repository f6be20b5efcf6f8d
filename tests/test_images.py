"""Image+caption pipeline tests (FIXTURES.md F1 invariants + recall gate).

- per-row invariant (BASELINE.json input_hint): decoded-pixel allclose
  (PSNR >= 40 dB for lossy) + caption equality for every injected dup.
- dup-pair recall >= 0.99 vs ground truth for the full image pipeline
  (caption MinHash/LSH edges ∪ phash Hamming edges -> connected
  components).
"""

import numpy as np
import pandas as pd
import pytest

from datasketches_rust_spark.config import DedupConfig
from datasketches_rust_spark.oracle import cluster_pairs, dup_pair_recall
from datasketches_rust_spark.sources.codec import (decode_image, decode_png,
                                                   encode_png, psnr)
from datasketches_rust_spark.sources.images import (generate_images,
                                                    images_spark_df)
from datasketches_rust_spark.sources.phash import phash64

CFG = DedupConfig()


class TestCodec:
    def test_png_roundtrip_lossless(self):
        rng = np.random.default_rng(0)
        for shape in [(32, 32, 3), (64, 64, 3), (48, 80, 3)]:
            px = rng.integers(0, 256, shape, dtype=np.uint8)
            assert np.array_equal(decode_png(encode_png(px)), px)

    def test_fake_jpeg_psnr_bound(self):
        from datasketches_rust_spark.sources.codec import (decode_jpeg,
                                                           encode_jpeg)
        rng = np.random.default_rng(1)
        px = rng.integers(0, 256, (64, 64, 3), dtype=np.uint8)
        for q in (90, 95, 98):
            assert psnr(px, decode_jpeg(encode_jpeg(px, q))) >= 40.0, q

    def test_real_jpeg_is_stubbed(self):
        from datasketches_rust_spark.sources.codec import decode_jpeg
        with pytest.raises(NotImplementedError):
            decode_jpeg(b"\xff\xd8\xff\xe0 real jpeg header")


class TestFixture:
    @pytest.fixture(scope="class")
    def data(self):
        return generate_images(1000, seed=42)

    def test_deterministic(self, data):
        imgs2, truth2 = generate_images(1000, seed=42)
        assert data[0].equals(imgs2)
        assert data[1].equals(truth2)

    def test_schema(self, data):
        imgs, truth = data
        assert list(imgs.columns) == ["image_id", "bytes", "w", "h", "fmt",
                                      "caption", "phash"]
        assert len(imgs) == 1000 and len(truth) == 1000

    def test_per_row_invariant(self, data):
        """Every dup row decodes to pixels allclose to its cluster seed
        (PSNR >= 40 dB for lossy members) — the input_hint invariant."""
        imgs, truth = data
        m = imgs.merge(truth, on="image_id")
        by_id = {r.image_id: r for r in imgs.itertuples()}
        checked = 0
        for cid, grp in m.groupby("cluster_id"):
            if len(grp) < 2:
                continue
            seed_row = by_id[f"img_{cid:010d}"]
            seed_px = decode_image(seed_row.bytes, seed_row.fmt)
            for r in grp.itertuples():
                px = decode_image(r.bytes, r.fmt)
                p = psnr(seed_px, px)
                same_caption = r.caption == seed_row.caption
                # exact/visual dups: caption equal and PSNR>=40;
                # caption dups: pixels identical
                assert p >= 40.0 or same_caption is False
                if not same_caption:
                    assert np.array_equal(px, seed_px)
                else:
                    assert p >= 40.0
                checked += 1
        assert checked > 100

    def test_phash_consistent_with_pixels(self, data):
        imgs, _ = data
        for r in imgs.head(20).itertuples():
            assert phash64(decode_image(r.bytes, r.fmt)) == r.phash

    def test_dup_rate(self, data):
        _, truth = data
        sizes = truth.groupby("cluster_id").size()
        member_rows = int(sizes[sizes > 1].sum())
        assert 0.2 <= member_rows / len(truth) <= 0.4
        assert sizes.max() <= 8


def _long_ids(df):
    """The same rows re-keyed deterministically to LONG ids
    (img_0000000042 -> 42)."""
    import pyspark.sql.functions as F
    return df.withColumn("image_id",
                         F.substring("image_id", 5, 10).cast("long"))


@pytest.mark.slow
class TestImagePipeline:
    @pytest.mark.parametrize("rekey", [None, _long_ids],
                             ids=["string_ids", "long_ids"])
    def test_recall_vs_truth(self, spark, rekey):
        """Both id dtypes of assign_clusters: string ids ride hashed
        longs and are recovered at the end; long ids go straight to CC."""
        from datasketches_rust_spark.pipeline_images import \
            image_cluster_assignments
        df, truth_df = images_spark_df(spark, 1000, seed=42, partitions=8)
        if rekey is not None:
            df, truth_df = rekey(df), rekey(truth_df)
        got = {r["image_id"]: r["cluster_id"] for r in
               image_cluster_assignments(df, CFG).collect()}
        truth = {r["image_id"]: r["cluster_id"] for r in truth_df.collect()}
        recall = dup_pair_recall(got, truth)
        assert recall >= 0.99, f"dup-pair recall {recall}"
        # precision guard: predicted pairs shouldn't wildly over-merge
        extra = cluster_pairs(got) - cluster_pairs(
            {k: f"c{v}" for k, v in truth.items()})
        assert len(extra) <= 0.05 * max(len(cluster_pairs(truth)), 1), \
            f"{len(extra)} spurious pairs"

    def test_sketch_table_bytes_equals_stored(self, spark):
        """image_sketch_table picks its phash source from the columns:
        DERIVED from pixels in the scan stage when bytes+fmt are present
        (the north_star mode), the stored column otherwise. Both must
        yield identical fingerprints — the fixture stores
        phash64(decoded)."""
        from datasketches_rust_spark.pipeline_images import \
            image_sketch_table
        df, _ = images_spark_df(spark, 400, seed=11, partitions=4)
        from_bytes = {(r.image_id, r.phash) for r in
                      image_sketch_table(df.drop("phash"), CFG)
                      .select("image_id", "phash").collect()}
        stored = {(r.image_id, r.phash) for r in
                  image_sketch_table(df.drop("bytes", "fmt"), CFG)
                  .select("image_id", "phash").collect()}
        assert from_bytes == stored and len(stored) == 400


def test_phash_batch_matches_scalar():
    """Batched gray/DCT/median/bit-pack is bit-identical to the scalar
    reference across image shapes (including non-multiples of 32), and
    across a chunk boundary where stacked 32-px frames and per-image
    shapes interleave."""
    from datasketches_rust_spark.sources.phash import _CHUNK, phash_batch
    rng = np.random.default_rng(3)
    imgs = [rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            for h, w in [(32, 32), (64, 64), (48, 40), (100, 70), (33, 65)]
            for _ in range(3)]
    mixed = [imgs[k % len(imgs)] if k % 97 == 0
             else rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
             for k in range(_CHUNK + 200)]
    for batch in (imgs, mixed):
        want = np.array([phash64(p) for p in batch], dtype=np.int64)
        assert np.array_equal(phash_batch(batch), want)
    assert phash_batch([]).size == 0


def test_image_dedup_keep_best_matches_exact_selection(spark):
    """keep_best must pick, per cluster, the max-std_gray member with
    min-id tiebreak — verified against an exact pandas recomputation
    from the same cluster assignment + feature table."""
    import pandas as pd
    from datasketches_rust_spark.multimodal import image_features
    from datasketches_rust_spark.pipeline_images import (
        image_cluster_assignments, image_dedup_keep_best)

    df, _ = images_spark_df(spark, 500, seed=42, partitions=4)
    got = {r["cluster_id"]: (r["rep_id"], r["cluster_size"])
           for r in image_dedup_keep_best(df, CFG).collect()}

    clusters = image_cluster_assignments(df, CFG).toPandas()
    feats = image_features(df).toPandas()[["image_id", "std_gray"]]
    m = clusters.merge(feats, on="image_id")
    want = {}
    for cl, grp in m.groupby("cluster_id"):
        best = grp[grp["std_gray"] == grp["std_gray"].max()]
        want[cl] = (best["image_id"].min(), len(grp))
    assert got == want
    # sanity: the selection is not vacuous — multi-member clusters exist
    assert {cl for cl, (_, n) in want.items() if n > 1}
