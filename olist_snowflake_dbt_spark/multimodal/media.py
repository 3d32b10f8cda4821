"""Binary media columns: schema, synthesis, decode, features, frames.

Design notes for 100 TB of media:
- Payloads ride in parquet ``binary`` columns; metadata is a sibling
  struct column, so format/size predicates prune row groups WITHOUT
  touching payload bytes (column pruning — check ReadSchema).
- Every kernel is ``mapInPandas``: one Arrow batch in, one out, bounded
  memory per task regardless of corpus size. ``spark.sql.execution
  .arrow.maxRecordsPerBatch`` caps batch height for fat payloads.
- Frame sampling fans out rows; doing it inside ``mapInPandas`` keeps
  the explosion executor-side and pipelined (no shuffle, no driver).
- Real codecs are optional imports; without them the decode kernel
  substitutes a DETERMINISTIC fake (xxhash-seeded), so pipelines and
  tests run anywhere while the batch plumbing stays production-shaped.
"""

from __future__ import annotations

import zlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators._cache import scoped_persist

MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_type", StringType()),   # image | audio | video
        StructField("fmt", StringType()),          # png | wav | mp4 | ...
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),       # image/video
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),    # audio/video
        StructField("sample_rate", IntegerType()), # audio
    ]
)

_MEDIA_TYPES = ["image", "audio", "video"]
_FORMATS = {"image": "png", "audio": "wav", "video": "mp4"}


def attach_fake_media(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Synthesize a deterministic binary payload + metadata per document
    (the container has no real media; the bytes are the document's UTF-8
    text, the metadata derives from id/size). Pure Catalyst — the
    payload never goes through Python here."""
    payload = F.encode(F.col(text_col), "UTF-8")
    mt = F.element_at(
        F.array(*[F.lit(t) for t in _MEDIA_TYPES]),
        (F.col(id_col) % 3 + 1).cast("int"),
    )
    fmt = F.element_at(
        F.array(*[F.lit(_FORMATS[t]) for t in _MEDIA_TYPES]),
        (F.col(id_col) % 3 + 1).cast("int"),
    )
    n_bytes = F.octet_length(payload).cast("long")
    meta = F.struct(
        mt.alias("media_type"),
        fmt.alias("fmt"),
        n_bytes.alias("n_bytes"),
        F.when(mt != "audio", (n_bytes % 1024 + 16).cast("int")).alias("width"),
        F.when(mt != "audio", (n_bytes % 768 + 16).cast("int")).alias("height"),
        F.when(mt != "image", n_bytes * 10).alias("duration_ms"),
        F.when(mt == "audio", F.lit(16000)).alias("sample_rate"),
    )
    return docs.select(
        F.col(id_col).alias("media_id"), payload.alias("payload"), meta.alias("meta")
    )


def media_byte_stats(media: DataFrame) -> DataFrame:
    """Payload accounting without decoding: size, md5, crc32 — all
    JVM-side expressions over the binary column (no Python)."""
    return media.select(
        "media_id",
        F.col("meta")["media_type"].alias("media_type"),
        F.col("meta")["n_bytes"].alias("n_bytes"),
        F.md5("payload").alias("payload_md5"),
        F.crc32("payload").alias("payload_crc32"),
    )


# -- decode (stubbed codec, real plumbing) ----------------------------

_DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("decoded_w", IntegerType()),
        StructField("decoded_h", IntegerType()),
        StructField("mean_luma", DoubleType()),
    ]
)


def _fake_decode(payload: bytes, width: int, height: int) -> tuple[int, int, float]:
    """Deterministic stand-in for an image decoder: "luma" is the mean
    byte value — stable across runs/engines, no codec needed."""
    if not payload:
        return (width or 0, height or 0, 0.0)
    return (width or 0, height or 0, sum(payload) / len(payload) / 255.0)


def decode_media(media: DataFrame) -> DataFrame:
    """Batched decode: Arrow batches of (id, payload, meta) → decoded
    dimensions + a luminance summary. Uses PIL when importable;
    otherwise the deterministic fake above (STUB — the container ships
    no codecs; swap `_fake_decode` for the PIL branch in production)."""
    try:  # pragma: no cover - PIL absent in this container
        import PIL.Image  # noqa: F401

        have_pil = True
    except ImportError:
        have_pil = False

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = pdf["meta"]
            out = {
                "media_id": pdf["media_id"],
                "media_type": metas.map(lambda m: m["media_type"]),
                "decoded_w": [],
                "decoded_h": [],
                "mean_luma": [],
            }
            for payload, m in zip(pdf["payload"], metas):
                if have_pil and m["media_type"] == "image":  # pragma: no cover
                    raise NotImplementedError(
                        "real PIL decode path not exercised in this container"
                    )
                w, h, luma = _fake_decode(bytes(payload), m["width"], m["height"])
                out["decoded_w"].append(w)
                out["decoded_h"].append(h)
                out["mean_luma"].append(luma)
            yield pd.DataFrame(out)

    return media.mapInPandas(kernel, _DECODED_SCHEMA)


# -- feature extraction -----------------------------------------------

_FEATURES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)


def extract_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """Per-asset feature vector from payload bytes (normalized byte
    histogram over ``dim`` buckets) — deterministic, Arrow-batched, the
    shape a real embedding-extraction stage has (payload in → fixed-dim
    float array out)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            feats = []
            for payload in pdf["payload"]:
                arr = np.frombuffer(bytes(payload), dtype=np.uint8)
                if arr.size == 0:
                    feats.append([0.0] * dim)
                    continue
                hist = np.bincount(arr // (256 // dim), minlength=dim)[:dim]
                feats.append((hist / arr.size).tolist())
            yield pd.DataFrame({"media_id": pdf["media_id"], "features": feats})

    return media.select("media_id", "payload").mapInPandas(kernel, _FEATURES_SCHEMA)


# -- perceptual-hash media dedup --------------------------------------

_PHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("phash", LongType()),
    ]
)

_PHASH_NBITS = 60  # 4 rows x 16 cols grid -> 4 x 15 horizontal compares
_PHASH_ROWS, _PHASH_COLS = 4, 16


def perceptual_hash(media: DataFrame) -> DataFrame:
    """dHash-style perceptual fingerprint per media asset, packed into
    ONE int64 (60 bits — 4×15-bit bands, the repo-standard banded-
    Hamming width).

    Web-scale image corpora dedup by perceptual hash BEFORE any
    embedding work (near-identical images survive re-encoding, resizing
    and metadata changes that break exact byte dedup). The classic
    dHash recipe: downscale to a (rows × cols+?) grayscale grid, then
    bit[r,c] = grid[r][c] < grid[r][c+1] — the gradient signs, robust
    to global brightness/contrast shifts.

    Here the "decoded grayscale grid" is resampled from the payload
    bytes (the container ships no codecs — the decode front-end is the
    same deterministic stand-in as :func:`decode_media`; swap in a real
    decoder's luma plane in production, the grid→bits→pairs machinery
    is unchanged). Grid cell k of an n-byte payload covers the bytes
    ``{i : (i*64)//n == k}``; its value is the integer-scaled mean
    ``(256*sum)//len`` — ALL-INTEGER arithmetic, so an oracle engine
    replays the hash bit-exactly from hex(payload).

    Plan shape: one Arrow-batched ``mapInPandas`` pass (payload in,
    8-byte signature out) — map-only, zero shuffle; the corpus never
    moves again, only the 16-byte (id, sig) table does. Greenfield vs
    the reference ($REF has no media surface; SURVEY.md §2.C
    multimodal extension set)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "phash": [_dhash60(bytes(p)) for p in pdf["payload"]],
                }
            )

    return media.select("media_id", "payload").mapInPandas(kernel, _PHASH_SCHEMA)


def _dhash60(data: bytes) -> int:
    """The 60-bit dHash of one byte payload — the single source of truth
    for asset-level AND frame-level fingerprints (all-integer; the SQL
    oracles replay it bit-exactly)."""
    import numpy as np

    arr = np.frombuffer(data, dtype=np.uint8)
    n = arr.size
    if n == 0:
        return 0
    n_cells = _PHASH_ROWS * _PHASH_COLS
    k = (np.arange(n, dtype=np.int64) * n_cells) // n
    sums = np.bincount(k, weights=arr, minlength=n_cells).astype(
        np.int64
    )  # float64 sums are exact (< 2**53), cast back to int
    lens = np.bincount(k, minlength=n_cells)
    vals = np.where(
        lens > 0, (256 * sums) // np.maximum(lens, 1), 0
    ).reshape(_PHASH_ROWS, _PHASH_COLS)
    bits = (vals[:, :-1] < vals[:, 1:]).flatten()
    weights = 1 << np.arange(_PHASH_NBITS, dtype=np.uint64)
    return int((bits * weights).sum())


_AFP_FRAMES, _AFP_BANDS = 13, 6  # 78 energy cells -> 12 x 5 = 60 bits
_AFP_NBITS = (_AFP_FRAMES - 1) * (_AFP_BANDS - 1)
_AFP_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("afp", LongType()),
    ]
)


def _afp60(data: bytes) -> int:
    """60-bit audio fingerprint of one byte payload — the Haitsma &
    Kalker (ICMIR 2002, "A Highly Robust Audio Fingerprinting System")
    sub-fingerprint recipe: band energies per time frame, bit = sign of
    the energy difference ACROSS bands differenced again ACROSS time
    (F(t,b) = [E(t,b)-E(t,b+1)] - [E(t-1,b)-E(t-1,b+1)] > 0). The
    double difference cancels any constant gain shift exactly: adding c
    to every sample moves every cell's integer mean by exactly 256*c
    ((256*(s+c*len))//len == (256*s)//len + 256*c), so all deltas — and
    the fingerprint — are unchanged (pinned by test).

    The "decoded PCM" front-end is the same deterministic byte stand-in
    as :func:`_dhash60` (no codecs in the container): cell k of an
    n-byte payload covers bytes {i : (i*78)//n == k}, 13 time frames ×
    6 bands laid out time-major, cell energy = (256*sum)//len —
    ALL-INTEGER, so an oracle engine replays the fingerprint bit-exactly
    from hex(payload). Swap in a real FFT band-energy matrix in
    production; the grid→bits→pairs machinery is unchanged."""
    import numpy as np

    arr = np.frombuffer(data, dtype=np.uint8)
    n = arr.size
    if n == 0:
        return 0
    n_cells = _AFP_FRAMES * _AFP_BANDS
    k = (np.arange(n, dtype=np.int64) * n_cells) // n
    sums = np.bincount(k, weights=arr, minlength=n_cells).astype(np.int64)
    lens = np.bincount(k, minlength=n_cells)
    e = np.where(lens > 0, (256 * sums) // np.maximum(lens, 1), 0).reshape(
        _AFP_FRAMES, _AFP_BANDS
    )
    d = e[:, :-1] - e[:, 1:]          # band deltas per frame: 13 x 5
    bits = (d[1:] - d[:-1] > 0).flatten()  # time deltas: 12 x 5
    weights = 1 << np.arange(_AFP_NBITS, dtype=np.uint64)
    return int((bits * weights).sum())


def audio_fingerprint(media: DataFrame) -> DataFrame:
    """Per-asset 60-bit audio fingerprint (:func:`_afp60`) — one
    Arrow-batched ``mapInPandas`` pass, payload in / 8-byte signature
    out, map-only with zero shuffle; downstream joins move only the
    16-byte (id, sig) table, never the payload bytes again."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "afp": [_afp60(bytes(p)) for p in pdf["payload"]],
                }
            )

    return media.select("media_id", "payload").mapInPandas(kernel, _AFP_SCHEMA)


def audio_fp_pairs(
    media: DataFrame, max_hamming: int = 3, bands: int = 4
) -> DataFrame:
    """Near-dup audio pairs within Hamming ≤ ``max_hamming`` of the
    60-bit audio fingerprint — the audio member of the dedup family
    (image: :func:`phash_pairs`, video: :func:`video_phash_pairs`).
    Same banded pigeonhole machinery: only band-colliding signatures
    are compared (``max_hamming >= bands`` rejected — recall guarantee),
    the Hamming filter is a codegen'd ``bit_count(a^b)`` BEFORE the
    pair distinct. The banded signature frame is persisted for the
    self-join's two sides; the caller owns the cache lifetime
    (:func:`~..operators._cache.release_operator_caches`)."""
    _check_banded_hamming(max_hamming, bands)
    from ..functions.hashing import hamming64, simhash_band_keys

    sig = audio_fingerprint(media)
    banded = scoped_persist(
        sig.select(
            "media_id",
            "afp",
            F.explode(
                simhash_band_keys(F.col("afp"), bands, _AFP_NBITS)
            ).alias("__band"),
        )
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            hamming64(F.col("a.afp"), F.col("b.afp")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def _check_banded_hamming(max_hamming: int, bands: int) -> None:
    # The pigeonhole guarantee (see simhash_band_keys): signatures
    # within Hamming distance d share a band chunk only when d < bands.
    # A larger radius would silently return an incomplete pair set.
    if not 0 <= max_hamming < bands:
        raise ValueError(
            f"max_hamming must satisfy 0 <= max_hamming < bands for full "
            f"candidate recall (got max_hamming={max_hamming}, bands={bands})"
        )


def phash_pairs(
    media: DataFrame, max_hamming: int = 3, bands: int = 4
) -> DataFrame:
    """Near-dup media pairs within Hamming distance ≤ ``max_hamming`` of
    the 60-bit perceptual hash — the media member of the dedup family.

    Banded pigeonhole join (the :func:`~..operators.dedup.simhash_pairs`
    machinery, reused): pairs within distance < ``bands`` must share at
    least one exact 15-bit chunk, so only band-colliding signatures are
    compared — never all pairs (``max_hamming >= bands`` is rejected —
    the pigeonhole recall guarantee would not hold). At 100 TB the
    self-join input is the 8-byte signature table (6 orders of
    magnitude smaller than the payload bytes), the Hamming filter is a
    codegen'd ``bit_count(a^b)``, and it runs BEFORE the pair distinct
    so the final shuffle carries only true near-dups. The banded
    signature frame is persisted for the self-join's two sides; the
    caller owns the cache lifetime
    (:func:`~..operators._cache.release_operator_caches`).
    """
    _check_banded_hamming(max_hamming, bands)
    from ..functions.hashing import hamming64, simhash_band_keys

    sig = perceptual_hash(media)
    banded = scoped_persist(
        sig.select(
            "media_id",
            "phash",
            F.explode(
                simhash_band_keys(F.col("phash"), bands, _PHASH_NBITS)
            ).alias("__band"),
        )
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.__band") == F.col("b.__band"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
            hamming64(F.col("a.phash"), F.col("b.phash")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def phash_incremental_admit(
    new_media: DataFrame,
    standing_sigs: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Incremental media-corpus admission — the perceptual-hash sibling
    of :func:`~..operators.dedup.incremental_dedup`: admit only batch
    assets that are (a) no near-dup (Hamming ≤ ``max_hamming``) of the
    STANDING corpus and (b) not blocked by a smaller-id near-dup within
    the batch itself. Returns the admitted ``(media_id, phash)`` rows —
    exactly what the caller appends to the standing index to keep the
    invariant.

    This is how a 100 TB media corpus grows without re-decoding itself:
    the standing side is the 8-byte-signature table (~6 orders of
    magnitude smaller than the payloads), the batch pays ONE Arrow
    decode/hash pass, and both rejection joins are banded pigeonhole
    joins (never all-pairs). At steady state the batch's banded side is
    small — AQE broadcasts it against the standing index.

    The batch-internal blocker rule is the RAW batch (a batch asset
    rejected against standing still blocks its own batch near-dups) —
    deterministic and conservative: of a dup group split across the
    standing boundary, at most one copy is ever admitted.

    The batch's banded signature frame is persisted (it feeds both
    rejection joins); the caller owns the cache lifetime
    (:func:`~..operators._cache.release_operator_caches`)."""
    _check_banded_hamming(max_hamming, bands)
    from ..functions.hashing import hamming64, simhash_band_keys

    sig = perceptual_hash(new_media)

    def banded(sigs: DataFrame) -> DataFrame:
        return sigs.select(
            "media_id",
            "phash",
            F.explode(
                simhash_band_keys(F.col("phash"), bands, _PHASH_NBITS)
            ).alias("__band"),
        )

    bn = scoped_persist(banded(sig))
    bs = banded(standing_sigs).select(
        F.col("__band"),
        F.col("media_id").alias("__sid"),
        F.col("phash").alias("__sph"),
    )
    rej_standing = (
        bn.join(bs, "__band")
        .filter(hamming64(F.col("phash"), F.col("__sph")) <= max_hamming)
        .select("media_id")
    )
    a, b = bn.alias("a"), bn.alias("b")
    rej_batch = a.join(
        b,
        (F.col("a.__band") == F.col("b.__band"))
        & (F.col("a.media_id") < F.col("b.media_id")),
    ).filter(
        hamming64(F.col("a.phash"), F.col("b.phash")) <= max_hamming
    ).select(F.col("b.media_id").alias("media_id"))
    rejected = rej_standing.unionByName(rej_batch).dropDuplicates()
    return sig.join(rejected, "media_id", "left_anti")


_FRAME_PHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("phash", LongType()),
    ]
)


def frame_phashes(
    media: DataFrame, frame_bytes: int = 1024, max_frames: int = 8
) -> DataFrame:
    """Per-FRAME perceptual fingerprints: the :func:`sample_frames`
    slice geometry (fixed-stride byte windows standing in for decoded
    frames — a real decoder's frame sampler drops into the same kernel)
    with :func:`_dhash60` applied to each slice INSIDE the same Arrow
    batch pass, so frame bytes never leave the executor — only
    ``(media_id, frame_idx, 8-byte sig)`` rows do."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {"media_id": [], "frame_idx": [], "phash": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                data = bytes(payload)
                n = min(max_frames, max(1, len(data) // frame_bytes))
                for i in range(n):
                    rows["media_id"].append(mid)
                    rows["frame_idx"].append(i)
                    rows["phash"].append(
                        _dhash60(data[i * frame_bytes : (i + 1) * frame_bytes])
                    )
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload").mapInPandas(
        kernel, _FRAME_PHASH_SCHEMA
    )


def video_phash_pairs(
    media: DataFrame,
    frame_bytes: int = 1024,
    max_frames: int = 8,
    min_shared: int = 2,
    max_sig_freq: int | None = 1000,
) -> DataFrame:
    """Near-dup VIDEO pairs: two assets match when ≥ ``min_shared`` of
    their sampled frames carry IDENTICAL perceptual hashes — the
    standard video-dedup recipe (re-encoded/trimmed copies keep most
    frame fingerprints; a threshold of shared frames rejects single
    coincidental collisions).

    Plan shape at 100 TB: one Arrow pass emits ≤ ``max_frames`` 8-byte
    signatures per asset, then the pair generation is an INVERTED-INDEX
    self-join on the exact signature value (the n-gram-Jaccard shape,
    not banded Hamming — frame sigs of near-identical frames are
    byte-equal here, and exact-match joins need no candidate
    explosion), followed by one pair aggregate counting DISTINCT shared
    signatures (distinct, so a still video repeating one frame eight
    times cannot fake eight votes). Returns
    ``(id_a, id_b, n_shared_frames)``.

    ``max_sig_freq`` is the hot-frame guard — the video twin of the
    n-gram index's ``max_doc_freq``: a signature carried by more than
    this many assets (black frames, intros, test cards) is dropped from
    the index BEFORE the self-join, since a sig in f assets contributes
    f² candidate rows. Near-dup PAIRS don't need ubiquitous frames to
    be found; the guard bounds the worst posting list at any corpus
    size.

    The deduped frame-signature frame is persisted (hot-frame filter +
    both self-join sides); the caller owns the cache lifetime
    (:func:`~..operators._cache.release_operator_caches`)."""
    fp = scoped_persist(
        frame_phashes(media, frame_bytes, max_frames)
        .select("media_id", "phash")
        .dropDuplicates()
    )
    if max_sig_freq is not None:
        ok = (
            fp.groupBy("phash")
            .agg(F.count(F.lit(1)).alias("__sig_df"))
            .filter(F.col("__sig_df") <= max_sig_freq)
            .select("phash")
        )
        fp = fp.join(ok, "phash")
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.phash") == F.col("b.phash"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .groupBy(
            F.col("a.media_id").alias("id_a"),
            F.col("b.media_id").alias("id_b"),
        )
        .agg(F.countDistinct(F.col("a.phash")).alias("n_shared_frames"))
        .filter(F.col("n_shared_frames") >= min_shared)
    )


# -- frame sampling (fan-out) -----------------------------------------

_FRAMES_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_offset", LongType()),
        StructField("frame_nbytes", LongType()),
        StructField("frame_crc32", LongType()),
    ]
)


def sample_frames(
    media: DataFrame, frame_bytes: int = 1024, max_frames: int = 8
) -> DataFrame:
    """Sample up to ``max_frames`` fixed-stride "frames" (byte windows)
    per video payload — the row fan-out pattern of real frame
    extraction, executor-side and shuffle-free. Emits the slice
    geometry + a crc of the slice so correctness is checkable without a
    codec."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {k.name: [] for k in _FRAMES_SCHEMA.fields}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                data = bytes(payload)
                n = min(max_frames, max(1, len(data) // frame_bytes))
                for i in range(n):
                    off = i * frame_bytes
                    chunk = data[off : off + frame_bytes]
                    rows["media_id"].append(mid)
                    rows["frame_idx"].append(i)
                    rows["frame_offset"].append(off)
                    rows["frame_nbytes"].append(len(chunk))
                    rows["frame_crc32"].append(zlib.crc32(chunk))
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload").mapInPandas(kernel, _FRAMES_SCHEMA)


_RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("resized_hex", StringType()),
    ]
)


def _resize_cells(data: bytes, out_cells: int) -> str:
    """Block-mean resample of one payload to ``out_cells`` cells,
    rendered as 2 uppercase hex chars per cell — all-integer (plain
    floor mean), so SQL oracles replay it bit-exactly. Empty segments
    (payload shorter than the grid) and empty payloads yield 00 cells,
    like the other kernels."""
    import numpy as np

    arr = np.frombuffer(data, dtype=np.uint8)
    n = arr.size
    if n == 0:
        return "00" * out_cells
    k = (np.arange(n, dtype=np.int64) * out_cells) // n
    sums = np.bincount(k, weights=arr, minlength=out_cells).astype(np.int64)
    lens = np.bincount(k, minlength=out_cells)
    vals = np.where(lens > 0, sums // np.maximum(lens, 1), 0)
    return "".join(format(int(v), "02X") for v in vals)


def resize_media(media: DataFrame, out_cells: int = 16) -> DataFrame:
    """Batched RESIZE — the downsampling stage of a media training
    pipeline (thumbnail/patch normalization before feature extraction
    or phash). Resamples each decoded byte stream to ``out_cells``
    block-mean cells in one Arrow ``mapInPandas`` pass; the synthetic
    decode is 1-D, so this is 1-D pooling — a real decoder swaps in
    2-D block pooling through the SAME plumbing (schema, batching,
    partitioning), which is the part this container can prove.

    Returns ``(media_id, n_bytes, resized_hex)`` with 2 hex chars per
    cell — integer floor means, bit-replayable by the SQL oracle.
    Executor-side, zero shuffle; fuses behind whatever scan feeds it.
    """
    if out_cells <= 0:
        raise ValueError(f"out_cells must be positive (got {out_cells})")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": [len(bytes(p)) for p in pdf["payload"]],
                    "resized_hex": [
                        _resize_cells(bytes(p), out_cells)
                        for p in pdf["payload"]
                    ],
                }
            )

    return media.mapInPandas(kernel, _RESIZE_SCHEMA)
