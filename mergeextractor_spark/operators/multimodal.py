"""Multimodal column plumbing (engine extension for training-data
pipelines): image/audio/video as opaque ``binary`` columns with typed
metadata, processed by Arrow-batched ``mapInPandas`` stages.

The decode kernels themselves are STUBBED (this container has no
image/audio libraries): ``decode_image`` raises NotImplementedError
unless handed a codec, and the default test codec is a deterministic
fake that parses our synthetic header. The Spark-side plumbing — schema,
batch iteration, partition sizing, UDF signatures — is real and tested;
swapping in Pillow/ffmpeg is a one-line codec injection per executor.

Scale notes: binary payloads never shuffle — metadata extraction runs
map-side and only the (id, metadata/features) projection moves. Partition
sizing for 100 TB of blobs comes from spark.sql.files.maxPartitionBytes,
not row counts.
"""

from __future__ import annotations

import struct
import weakref
import zlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import register
from ._util import golden_path, truncate_lineage

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField("mime", T.StringType()),
    ]
)

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

# Synthetic payload format for tests: b"FAKEIMG" + width(u32) + height(u32) + pixels
FAKE_MAGIC = b"FAKEIMG"


def encode_fake_image(width: int, height: int, fill: int = 0) -> bytes:
    return FAKE_MAGIC + struct.pack("<II", width, height) + bytes([fill % 256]) * (width * height)


def encode_png(
    width: int,
    height: int,
    shade: int = 128,
    pixel_fn: Callable[[int, int], int] | None = None,
) -> bytes:
    """A complete, valid grayscale PNG (stdlib zlib only) — real container
    bytes for exercising the metadata path without Pillow. ``pixel_fn(x,
    y) -> 0..255`` renders patterned content (gradients, near-duplicate
    pairs for the perceptual-hash path); default is a uniform shade."""

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    if pixel_fn is None:
        raw = b"".join(b"\x00" + bytes([shade % 256]) * width for _ in range(height))
    else:
        raw = b"".join(
            b"\x00" + bytes(pixel_fn(x, y) % 256 for x in range(width))
            for y in range(height)
        )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def fake_image_codec(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in decoder: parses the synthetic header."""
    if not payload or not payload.startswith(FAKE_MAGIC):
        raise ValueError("not a FAKEIMG payload")
    w, h = struct.unpack_from("<II", payload, len(FAKE_MAGIC))
    return w, h


def header_image_codec(payload: bytes) -> tuple[int, int]:
    """Real (width, height) from PNG/GIF/JPEG container headers — pure
    stdlib, no pixel decode. Covers the metadata-extraction stage of a
    real pipeline; full pixel decode still needs an injected Pillow/libvips
    codec. Falls back to the synthetic FAKEIMG header so fixture payloads
    keep working through the same default."""
    if payload.startswith(b"\x89PNG\r\n\x1a\n") and len(payload) >= 24:
        # IHDR is always the first chunk: width/height big-endian u32 at 16.
        w, h = struct.unpack_from(">II", payload, 16)
        return w, h
    if payload[:6] in (b"GIF87a", b"GIF89a") and len(payload) >= 10:
        w, h = struct.unpack_from("<HH", payload, 6)
        return w, h
    if payload.startswith(b"\xff\xd8"):
        # Walk JPEG segments to the first SOFn frame header.
        i = 2
        while i + 9 <= len(payload):
            if payload[i] != 0xFF:
                i += 1
                continue
            marker = payload[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            seg_len = struct.unpack_from(">H", payload, i + 2)[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = struct.unpack_from(">HH", payload, i + 5)
                return w, h
            i += 2 + seg_len
        raise ValueError("JPEG without SOF frame header")
    return fake_image_codec(payload)


def decode_image(payload: bytes, codec: Callable[[bytes], tuple[int, int]] | None = None):
    """Metadata decode defaults to the stdlib header parser; full pixel
    decode still requires an injected codec (Pillow/libvips not in this
    environment)."""
    if codec is None:
        codec = header_image_codec
    return codec(payload)


def image_metadata(
    media: DataFrame, codec: Callable[[bytes], tuple[int, int]] = header_image_codec
) -> DataFrame:
    """binary images → (media_id, width, height, n_bytes) via mapInPandas.
    Batches iterate Arrow record batches; payload bytes never leave the
    executor after this projection."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    w, h = decode_image(bytes(payload), codec)
                except Exception:
                    w = h = -1
                rows.append(
                    {"media_id": mid, "width": w, "height": h, "n_bytes": len(payload)}
                )
            yield pd.DataFrame(rows, columns=["media_id", "width", "height", "n_bytes"])

    return media.filter(F.col("kind") == "image").select("media_id", "payload").mapInPandas(
        _run, IMAGE_META_SCHEMA
    )


# ---------------------------------------------------------------------------
# Perceptual hashing (dHash) over a pixel-decode seam.  Unlike the
# metadata codecs above, this path needs PIXELS: the stdlib codec fully
# decodes the two fixture formats (our filter-0 grayscale PNG subset via
# zlib, and FAKEIMG raw bytes); anything else raises NotImplementedError
# — the same injectable-codec seam as decode_image (Pillow/libvips in a
# real deployment decodes, the dHash math below is unchanged).


def stdlib_pixel_codec(payload: bytes) -> list[list[int]]:
    """payload → row-major grayscale pixel matrix (stdlib only)."""
    if payload.startswith(b"\x89PNG\r\n\x1a\n"):
        w, h = struct.unpack_from(">II", payload, 16)
        bit_depth, color_type = payload[24], payload[25]
        if (bit_depth, color_type) != (8, 0):
            raise NotImplementedError("stdlib codec decodes 8-bit grayscale PNG only")
        # walk chunks, concatenate IDAT
        idat = b""
        i = 8
        while i + 8 <= len(payload):
            (ln,) = struct.unpack_from(">I", payload, i)
            tag = payload[i + 4 : i + 8]
            if tag == b"IDAT":
                idat += payload[i + 8 : i + 8 + ln]
            if tag == b"IEND":
                break
            i += 12 + ln
        raw = zlib.decompress(idat)
        stride = w + 1
        rows = []
        for y in range(h):
            line = raw[y * stride : (y + 1) * stride]
            if line[0] != 0:
                raise NotImplementedError("stdlib codec handles filter 0 only")
            rows.append(list(line[1:]))
        return rows
    if payload.startswith(FAKE_MAGIC):
        w, h = struct.unpack_from("<II", payload, len(FAKE_MAGIC))
        px = payload[len(FAKE_MAGIC) + 8 :]
        return [list(px[y * w : (y + 1) * w]) for y in range(h)]
    raise NotImplementedError("inject a pixel codec (Pillow/libvips) for this format")


def dhash64(rows: list[list[int]]) -> int:
    """64-bit difference hash: nearest-neighbor resample to 9×8, compare
    horizontally adjacent cells. Robust to resizing and uniform
    brightness shifts — the standard cheap image near-dup signature."""
    h, w = len(rows), len(rows[0])
    grid = [
        [rows[(y * h) // 8][(x * w) // 9] for x in range(9)]
        for y in range(8)
    ]
    bits = 0
    for y in range(8):
        for x in range(8):
            bits = (bits << 1) | (1 if grid[y][x] > grid[y][x + 1] else 0)
    return bits


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("phash", T.LongType()),
    ]
)


def _dhash64_np(px) -> int:
    """``dhash64`` over a 2-D uint8 numpy pixel array — bit-identical:
    the same nearest-neighbor 9×8 grid indices and the same row-major
    MSB-first bit packing (np.packbits packs MSB-first per byte, and the
    reference loop's first comparison is the MSB of the 64-bit value)."""
    import numpy as np

    h, w = px.shape
    ys = (np.arange(8) * h) // 8
    xs = (np.arange(9) * w) // 9
    grid = px[np.ix_(ys, xs)].astype(np.int16)
    bits = (grid[:, :8] > grid[:, 1:]).ravel()
    return int.from_bytes(np.packbits(bits).tobytes(), "big")


def _fast_pixels(payload: bytes):
    """stdlib_pixel_codec's exact decode surface as a numpy array (or
    None for formats the stdlib codec raises on — caller falls back to
    the codec so injected-codec/error behavior is byte-identical)."""
    import numpy as np

    if payload.startswith(FAKE_MAGIC):
        w, h = struct.unpack_from("<II", payload, len(FAKE_MAGIC))
        px = np.frombuffer(payload, dtype=np.uint8,
                           offset=len(FAKE_MAGIC) + 8, count=w * h)
        return px.reshape(h, w)
    if payload.startswith(b"\x89PNG\r\n\x1a\n"):
        bit_depth, color_type = payload[24], payload[25]
        if (bit_depth, color_type) != (8, 0):
            return None  # codec raises NotImplementedError → phash NULL
        w, h = struct.unpack_from(">II", payload, 16)
        idat = b""
        i = 8
        while i + 8 <= len(payload):
            (ln,) = struct.unpack_from(">I", payload, i)
            tag = payload[i + 4 : i + 8]
            if tag == b"IDAT":
                idat += payload[i + 8 : i + 8 + ln]
            if tag == b"IEND":
                break
            i += 12 + ln
        raw = np.frombuffer(zlib.decompress(idat), dtype=np.uint8)
        raw = raw.reshape(h, w + 1)
        if (raw[:, 0] != 0).any():
            return None  # filter != 0 → stdlib codec raises → NULL
        return raw[:, 1:]
    return None


def image_phash(
    media: DataFrame,
    codec: Callable[[bytes], list[list[int]]] = stdlib_pixel_codec,
) -> DataFrame:
    """binary images → (media_id, 64-bit dHash) via mapInPandas; payload
    bytes never leave the executor, only the 8-byte signature shuffles.

    With the DEFAULT stdlib codec the decode+hash runs through numpy
    (guide §4.2: hand whole batches to vectorized native code instead of
    looping over pixels in Python) — the row-list codec materialized
    W×H Python ints per image to sample 72 of them.  Values are
    bit-identical (_dhash64_np) and golden-pinned; an INJECTED codec
    keeps the row-at-a-time path, the seam unchanged."""
    fast = codec is stdlib_pixel_codec

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mids, phs = [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    payload = bytes(payload)
                    if fast:
                        px_np = _fast_pixels(payload)
                        if px_np is None or px_np.size == 0:
                            raise NotImplementedError("stdlib codec subset")
                        ph = _dhash64_np(px_np) - (1 << 63)
                    else:
                        px = codec(payload)
                        # shift into signed-64 space for a LongType column
                        ph = dhash64(px) - (1 << 63)
                except Exception:
                    ph = None
                mids.append(mid)
                phs.append(ph)
            # nullable Int64, NOT a dict-built frame: one undecodable
            # payload in a batch would coerce the whole phash column to
            # float64, silently destroying the low signature bits of
            # every row in the batch (caught by the r10 golden mirror)
            yield pd.DataFrame(
                {"media_id": mids, "phash": pd.array(phs, dtype="Int64")}
            )

    return media.filter(F.col("kind") == "image").select("media_id", "payload").mapInPandas(
        _run, PHASH_SCHEMA
    )


PHASH_HAMMING_MAX = 6  # near-dup threshold on the 64-bit dHash


def dedup_image_phash_frame(media: DataFrame) -> DataFrame:
    """Perceptual near-dup dedup of images: dHash signatures through the
    shared banded-Hamming pipeline below."""
    # lazy checkpoint: the banded pipeline references the signature
    # frame from four plan subtrees (collapse, both self-join sides,
    # final join-back) — without the cut, the Python decode stage
    # executes 4x (measured in the r8 plan audit). localCheckpoint
    # materializes the 16-byte (media_id, sig) rows once, on first
    # action, never the payloads.
    return _banded_hamming_dedup(truncate_lineage(image_phash(media), eager=False))


# 7 bands over the 64 signature bits (sizes 10+9×6): k+1 = 7 bands for a
# guaranteed clean band at hamming <= 6 (PHASH_HAMMING_MAX).  The 4×16-bit
# layout this replaces only pigeonholed <= 3 flips (ADVICE r6, medium).
_BAND_OFFSETS: tuple[tuple[int, int], ...] = (
    (0, 10), (10, 9), (19, 9), (28, 9), (37, 9), (46, 9), (55, 9),
)
# 8 byte-blocks over the SAME 64 bits: <= 6 flips corrupt <= 6 of 8 blocks,
# so some block is intact too.  Band and block intactness both follow from
# the one flip set, so every true pair shares a compound (band, block) key.
_N_BLOCKS: int = 8


def _band_block_entries(phash_col: str) -> "F.Column":
    """Default 56-key scheme: one packed int per (band, block) combo —
    tag(6b) | band value(10b) | block value(8b), a single narrow
    join/shuffle key instead of three.  ~18-bit value entropy; random
    collisions grow as n²·56/2^18.5 — the measured winner below ~10⁷
    distinct signatures (9.9 s vs the wide scheme's 25.6 s at 200k).

    The 56-entry array arrives as ONE parsed SQL expression (r15): the
    Column-DSL build cost ~0.87 s of py4j round trips PER CONSTRUCTION
    (measured — over a third of dedup_image_phash's bench median was
    driver-side plan construction, guide §1 empirical loop), while the
    SQL string parses in one trip.  Same arithmetic, same generated
    code.  ``phash_col`` is the signature column NAME (SQL fragment)."""
    entries = ",".join(
        f"CAST({(k * _N_BLOCKS + j) << 18}L"
        f" + shiftleft(shiftrightunsigned({phash_col}, {off}) & {(1 << size) - 1}L, 8)"
        f" + (shiftrightunsigned({phash_col}, {8 * j}) & 255L) AS INT)"
        for k, (off, size) in enumerate(_BAND_OFFSETS)
        for j in range(_N_BLOCKS)
    )
    return F.expr(f"array({entries})")


def _band_blockpair_entries(phash_col: str) -> "F.Column":
    """Wide 196-key scheme — the documented 10⁸⁺-signature escape hatch
    (VERDICT r7 item 6): one packed long per
    (band, block-PAIR) combo, 7 × C(8,2) = 196 keys of ~34-bit value
    entropy — tag(8b) << 26 | band value(10b) << 16 | block_i(8b) << 8 |
    block_j(8b).  Recall is still GUARANTEED at hamming <= 6: <= 6 flips
    leave >= 1 of 7 bands intact AND >= 2 of 8 blocks intact (both
    pigeonholes apply to the same flip set), so every true pair shares
    some (intact band, intact block pair) key.  Collisions drop ~70× per
    combo (n²·196/2^27) at the price of 3.5× keyed rows — measured
    SLOWER at 200k signatures (25.6 s vs 9.9 s), the right trade only
    past the ~10⁸ distinct-signature crossover.  Recall equivalence with
    the 56-key default is pytest-pinned at both widths."""
    pairs = [(i, j) for i in range(_N_BLOCKS) for j in range(i + 1, _N_BLOCKS)]
    entries = ",".join(
        f"({(k * len(pairs) + p) << 26}L"
        f" + shiftleft(shiftrightunsigned({phash_col}, {off}) & {(1 << size) - 1}L, 16)"
        f" + shiftleft(shiftrightunsigned({phash_col}, {8 * i}) & 255L, 8)"
        f" + (shiftrightunsigned({phash_col}, {8 * j}) & 255L))"
        for k, (off, size) in enumerate(_BAND_OFFSETS)
        for p, (i, j) in enumerate(pairs)
    )
    return F.expr(f"array({entries})")


def _banded_hamming_dedup(
    sig: DataFrame,
    max_hamming: int = PHASH_HAMMING_MAX,
    entries_builder=_band_block_entries,
) -> DataFrame:
    """(media_id, phash) signatures → keep-first near-dup assignment via a
    double-pigeonhole compound-key equi-join (the dedup_simhash_neardup
    posture): 7 bands × 8 byte-blocks of the 64-bit signature give 56
    (band_value, block_value) keys per distinct signature.  A pair within
    hamming ≤ 6 leaves ≥ 1 of the 7 bands AND ≥ 2 of the 8 blocks intact
    (both pigeonholes apply to the same flip set), so it always shares a
    compound key — recall equals the all-pairs scan, which the
    dedup_signature_banded oracle keeps to prove it.  The ~18-bit compound
    key (vs a 9-bit band alone) keeps buckets small at corpus scale; the
    exact bit_count(xor) verify then runs on candidates only.  Keep-first
    canonical rep; output is one row PER SIGNATURE (linear in N).

    ``entries_builder`` selects the key scheme (VERDICT r7 item 6): the
    56-key (band, block) default, or ``_band_blockpair_entries`` — the
    196-key (band, block-pair) construction for 10⁸⁺ distinct
    signatures, where collision pairs overtake key volume.  Both schemes
    guarantee full recall at hamming <= 6; only the candidate-generation
    key array changes (verify/rep stages shared).

    Exact-collapse-first ordering (the same invariant as the text dedup
    family): IDENTICAL signatures — blank frames, re-encoded copies —
    form the heaviest clusters at corpus scale, and a band join over
    raw rows would emit c² candidate pairs inside each such cluster.
    Signatures therefore first collapse to one representative per
    DISTINCT phash (gid = min media_id); the banded join runs over
    distinct signatures only, and group membership maps every row to
    its final rep afterwards with a hash join."""
    if max_hamming > len(_BAND_OFFSETS) - 1:
        raise ValueError(
            f"7-band pigeonhole guarantees recall only for hamming <= 6, got {max_hamming}"
        )
    sig = sig.filter(F.col("phash").isNotNull())
    groups = sig.groupBy("phash").agg(F.min("media_id").alias("media_id"))
    # the stored long is the hash with bit 63 flipped (signed-range
    # shift); the flip is uniform across rows, so band equi-joins and
    # XOR hamming distances are unchanged — no unshift needed
    entries = entries_builder("phash")
    keyed = groups.select(
        "media_id", "phash", F.explode(entries).alias("bkey")
    )
    # Both sides of the self-join are 56×|distinct sigs| rows — corpus-sized
    # by construction, never broadcastable. Catalyst's size estimate does
    # not propagate through Generate (it sees the tiny pre-explode input
    # and happily builds a multi-million-row broadcast hash table, measured
    # 4× slower at 200k sigs), so pin the shuffle hash join explicitly:
    # partition on the compound key, build per-partition maps, no sort.
    keyed = keyed.hint("shuffle_hash")
    cand = (
        keyed.alias("x")
        .join(
            keyed.alias("y"),
            (F.col("x.bkey") == F.col("y.bkey"))
            & (F.col("x.media_id") < F.col("y.media_id")),
        )
        .select(
            F.col("x.media_id").alias("a"),
            F.col("y.media_id").alias("b"),
            F.col("x.phash").alias("pa"),
            F.col("y.phash").alias("pb"),
        )
    )
    # no .distinct() on candidates: a pair matching several of its 56
    # compound keys emits duplicate rows (bounded ×56), and the min()
    # aggregates below absorb them — cheaper than a dedicated dedup
    # shuffle of the pair stream (measured 10.8 → 9.9 s at 200k sigs)
    near = cand.filter(
        F.bit_count(F.col("pa").bitwiseXOR(F.col("pb"))) <= max_hamming
    ).select("a", "b")
    # rep per distinct-signature group: the smallest neighboring group id
    # (every group id is its group's min member, so this equals the
    # smallest qualifying raw media_id — single-hop keep-first semantics)
    rep = near.groupBy(F.col("b").alias("media_id")).agg(F.min("a").alias("rep_via"))
    grp_rep = groups.join(rep, "media_id", "left").select(
        "phash", F.coalesce(F.col("rep_via"), F.col("media_id")).alias("grp_rep")
    )
    # grp_rep <= media_id always holds (the group id is its group's min
    # member and rep_via only joins smaller gids), so grp_rep IS the
    # rep_id — no least() needed (ADVICE r7)
    return (
        sig.join(grp_rep, "phash")
        .select(
            "media_id",
            "phash",
            F.col("grp_rep").alias("rep_id"),
            (F.col("grp_rep") < F.col("media_id")).alias("is_dup"),
        )
    )


# ---------------------------------------------------------------------------
# Audio fingerprinting: the audio twin of the dHash — a 64-bit
# energy-envelope difference hash over the decoded PCM, invariant to
# amplitude scaling and duration re-rendering (relative frames).


def stdlib_pcm_codec(payload: bytes) -> list[int]:
    """WAV payload → first-channel 16-bit PCM samples (stdlib ``wave``).
    Non-WAV payloads (FAKEAUD headers carry no samples) raise for an
    injected ffmpeg/soundfile codec — the same seam as the pixel codec."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise NotImplementedError("inject an audio codec (ffmpeg/soundfile) for this format")
    import io
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getsampwidth() != 2:
            raise NotImplementedError("stdlib codec decodes 16-bit PCM only")
        ch, n = w.getnchannels(), w.getnframes()
        raw = w.readframes(n)
    all_samples = struct.unpack(f"<{n * ch}h", raw)
    return list(all_samples[::ch])


def audiohash64(samples: list[int]) -> int:
    """65 equal frames by relative position → mean |amplitude| per frame
    → adjacent comparison. Amplitude scaling preserves every comparison;
    re-rendering at a different duration samples the same envelope."""
    n = len(samples)
    if n < 65:
        raise ValueError("too short to fingerprint")
    energies = []
    for k in range(65):
        lo, hi = (k * n) // 65, ((k + 1) * n) // 65
        seg = samples[lo:hi] or [0]
        energies.append(sum(abs(s) for s in seg) / len(seg))
    bits = 0
    for k in range(64):
        bits = (bits << 1) | (1 if energies[k] > energies[k + 1] else 0)
    return bits


def audio_fingerprint(
    media: DataFrame,
    codec: Callable[[bytes], list[int]] = stdlib_pcm_codec,
) -> DataFrame:
    """binary audio → (media_id, 64-bit envelope hash) via mapInPandas;
    only the 8-byte signature leaves the map stage."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mids, phs = [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    ph = audiohash64(codec(bytes(payload))) - (1 << 63)
                except Exception:
                    ph = None
                mids.append(mid)
                phs.append(ph)
            # nullable Int64 — see image_phash: a dict-built frame with
            # one None coerces the column to float64 and corrupts the
            # low signature bits of the whole batch
            yield pd.DataFrame(
                {"media_id": mids, "phash": pd.array(phs, dtype="Int64")}
            )

    return media.filter(F.col("kind") == "audio").select("media_id", "payload").mapInPandas(
        _run, PHASH_SCHEMA
    )


def dedup_audio_fingerprint_frame(media: DataFrame) -> DataFrame:
    """Audio near-dup dedup: envelope hashes through the shared
    banded-Hamming pipeline."""
    # lazy checkpoint: the banded pipeline references the signature
    # frame from four plan subtrees (collapse, both self-join sides,
    # final join-back) — without the cut, the Python decode stage
    # executes 4x (measured in the r8 plan audit). localCheckpoint
    # materializes the 16-byte (media_id, sig) rows once, on first
    # action, never the payloads.
    return _banded_hamming_dedup(truncate_lineage(audio_fingerprint(media), eager=False))


def video_fingerprint(
    media: DataFrame,
    frame_signal: Callable[[bytes], float] | None = None,
) -> DataFrame:
    """binary video → (media_id, 64-bit temporal-envelope hash): 65
    byte-range "frames" by relative position, one scalar per frame
    (default: mean byte value — a REAL decoder injected via
    ``frame_signal`` would return per-frame mean luma; the temporal
    difference hash below is unchanged), adjacent comparison. Duration
    re-renders of the same stream sample the same envelope."""
    signal = frame_signal or (lambda b: sum(b) / len(b) if b else 0.0)

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            mids, phs = [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    raw = bytes(payload)
                    if len(raw) < 65:
                        raise ValueError("too short to fingerprint")
                    vals = []
                    for k in range(65):
                        lo, hi = (k * len(raw)) // 65, ((k + 1) * len(raw)) // 65
                        vals.append(signal(raw[lo:hi]))
                    bits = 0
                    for k in range(64):
                        bits = (bits << 1) | (1 if vals[k] > vals[k + 1] else 0)
                    ph = bits - (1 << 63)
                except Exception:
                    ph = None
                mids.append(mid)
                phs.append(ph)
            # nullable Int64 — see image_phash: a dict-built frame with
            # one None coerces the column to float64 and corrupts the
            # low signature bits of the whole batch
            yield pd.DataFrame(
                {"media_id": mids, "phash": pd.array(phs, dtype="Int64")}
            )

    return media.filter(F.col("kind") == "video").select("media_id", "payload").mapInPandas(
        _run, PHASH_SCHEMA
    )


def dedup_video_fingerprint_frame(media: DataFrame) -> DataFrame:
    """Video near-dup dedup: temporal-envelope hashes through the shared
    banded-Hamming pipeline."""
    # lazy checkpoint: the banded pipeline references the signature
    # frame from four plan subtrees (collapse, both self-join sides,
    # final join-back) — without the cut, the Python decode stage
    # executes 4x (measured in the r8 plan audit). localCheckpoint
    # materializes the 16-byte (media_id, sig) rows once, on first
    # action, never the payloads.
    return _banded_hamming_dedup(truncate_lineage(video_fingerprint(media), eager=False))


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(media: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """Frame-sampling plumbing: 1 video row → N frame rows (UDTF shape).
    The stub 'frame' is a byte slice; a real ffmpeg codec keeps the exact
    same signature and fan-out."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                data = bytes(payload)
                for i, start in enumerate(range(0, len(data), every_n_bytes)):
                    rows.append(
                        {"media_id": mid, "frame_idx": i, "frame": data[start : start + every_n_bytes]}
                    )
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame"])

    return media.filter(F.col("kind") == "video").select("media_id", "payload").mapInPandas(
        _run, FRAME_SCHEMA
    )


AUDIO_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("bits_per_sample", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

# Synthetic audio payload: b"FAKEAUD" + channels(u16) + rate(u32) + bits(u16)
# + n_frames(u32) — the audio twin of FAKEIMG.
FAKE_AUDIO_MAGIC = b"FAKEAUD"


def encode_fake_audio(channels: int, rate: int, bits: int, n_frames: int) -> bytes:
    return FAKE_AUDIO_MAGIC + struct.pack("<HIHI", channels, rate, bits, n_frames)


def encode_wav(
    n_frames: int,
    sample_rate: int = 16000,
    channels: int = 1,
    tone: int = 0,
    sample_fn: Callable[[int, int], int] | None = None,
) -> bytes:
    """A complete, valid 16-bit PCM WAV container (stdlib ``wave`` only) —
    real audio bytes for exercising the metadata path without ffmpeg.
    ``sample_fn(i, n_frames) -> int16`` renders shaped waveforms (energy
    envelopes for the fingerprint path); default is a flat tone."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        if sample_fn is None:
            w.writeframes(struct.pack("<h", (tone % 128) * 256) * channels * n_frames)
        else:
            w.writeframes(
                b"".join(
                    struct.pack("<h", max(-32768, min(32767, sample_fn(i, n_frames))))
                    * channels
                    for i in range(n_frames)
                )
            )
    return buf.getvalue()


def wav_header_codec(payload: bytes) -> tuple[int, int, int, int]:
    """(channels, sample_rate, bits_per_sample, n_frames) from RIFF/WAVE
    chunk headers — pure stdlib struct walk, no sample decode (the audio
    twin of header_image_codec). Falls back to the FAKEAUD header so
    fixture payloads flow through the same default."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        channels = rate = bits = None
        data_bytes = 0
        i = 12
        while i + 8 <= len(payload):
            tag = payload[i : i + 4]
            size = struct.unpack_from("<I", payload, i + 4)[0]
            if tag == b"fmt " and i + 24 <= len(payload):
                _, channels, rate = struct.unpack_from("<HHI", payload, i + 8)
                bits = struct.unpack_from("<H", payload, i + 22)[0]
            elif tag == b"data":
                data_bytes = size
            i += 8 + size + (size % 2)  # chunks are word-aligned
        if channels is None:
            raise ValueError("WAV without fmt chunk")
        n_frames = data_bytes // max(channels * (bits // 8), 1)
        return channels, rate, bits, n_frames
    if payload.startswith(FAKE_AUDIO_MAGIC):
        channels, rate, bits, n_frames = struct.unpack_from(
            "<HIHI", payload, len(FAKE_AUDIO_MAGIC)
        )
        return channels, rate, bits, n_frames
    raise ValueError("not a WAV or FAKEAUD payload")


def audio_metadata(
    media: DataFrame,
    codec: Callable[[bytes], tuple[int, int, int, int]] = wav_header_codec,
) -> DataFrame:
    """binary audio → (media_id, channels, sample_rate, bits_per_sample,
    duration_ms, n_bytes) via mapInPandas; payloads never shuffle."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in AUDIO_META_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                data = bytes(payload)
                try:
                    ch, rate, bits, n_frames = codec(data)
                    dur = int(n_frames * 1000 // max(rate, 1))
                except Exception:
                    ch = rate = bits = -1
                    dur = -1
                rows.append(
                    {
                        "media_id": mid,
                        "channels": ch,
                        "sample_rate": rate,
                        "bits_per_sample": bits,
                        "duration_ms": dur,
                        "n_bytes": len(data),
                    }
                )
            yield pd.DataFrame(rows, columns=cols)

    return media.filter(F.col("kind") == "audio").select("media_id", "payload").mapInPandas(
        _run, AUDIO_META_SCHEMA
    )


# ---------------------------------------------------------------------------
# Contract keys: the multimodal plumbing as registered rows-only queries.

# Weak-keyed on the session object itself — id(spark) could alias a new
# session onto a dead one's DataFrames after GC address reuse (ADVICE r2).
# The cached DataFrame references its session key, so the entry is pinned
# for the life of the process — accepted cost: one logical plan per live
# session (ADVICE r3).
_MEDIA_CACHE: "weakref.WeakKeyDictionary[SparkSession, DataFrame]" = (
    weakref.WeakKeyDictionary()
)


def media_rows() -> list[dict]:
    """The deterministic media fixture as plain rows — pure Python, no
    Spark. Factored out of :func:`_media_df` (r10) so the sequential
    golden-oracle mirror (tools/make_golden.py) reads the IDENTICAL
    payload set the registered queries process, with zero copy-drift."""
    rows = []
    for i in range(8):
        rows.append(
            {
                "media_id": i,
                "kind": "image",
                "payload": encode_png(16 + 8 * i, 9 + i, shade=i),
                "mime": "image/png",
            }
        )
        rows.append(
            {
                "media_id": 100 + i,
                "kind": "image",
                "payload": encode_fake_image(4 + i, 3 + i, fill=i),
                "mime": "image/fake",
            }
        )
        rows.append(
            {
                "media_id": 200 + i,
                "kind": "video",
                "payload": bytes(range(256)) * (i + 1),
                "mime": "video/fake",
            }
        )
        rows.append(
            {
                "media_id": 300 + i,
                "kind": "audio",
                "payload": encode_wav(1000 * (i + 1), sample_rate=8000 * (1 + i % 3), channels=1 + i % 2, tone=i),
                "mime": "audio/wav",
            }
        )
        rows.append(
            {
                "media_id": 400 + i,
                "kind": "audio",
                "payload": encode_fake_audio(2, 44100, 16, 44100 * (i + 1)),
                "mime": "audio/fake",
            }
        )
        rows.append(
            {
                "media_id": 500 + i,
                "kind": "video",
                "payload": encode_mp4(
                    1000 * (i + 1), timescale=600, n_tracks=1 + i % 3, mdat_size=64 + 16 * i
                ),
                "mime": "video/mp4",
            }
        )
    # perceptual-hash battery (media_id 600+): patterned PNGs defined in
    # RELATIVE coordinates so the same pattern re-rendered at 2× size
    # produces a near-identical dHash (resize invariance is the point of
    # the signature). 600=base gradient, 601=sparse ±4 perturbation
    # (near-dup), 602=same pattern at 2× (near-dup), 603=checkerboard,
    # 604=inverted gradient (both distinct).
    def gradient(w, h, invert=False, jitter=False):
        # piecewise-constant on the dHash's own 9×8 grid in RELATIVE
        # coordinates: re-rendering at any size samples identical cell
        # values (a smooth monotone gradient would dHash to ~all-zero
        # bits and collide with uniform images — a real property of the
        # signature, so the fixture uses a balanced-bit pattern)
        def f(x, y):
            i, j = (x * 9) // w, (y * 8) // h
            v = (37 * i + 11 * j * j + 7 * i * j) % 256
            if jitter and (x * 7 + y * 11) % 53 == 0:
                v += 4
            v %= 256
            return 255 - v if invert else v

        return f

    def checker(w, h):
        return lambda x, y: 255 * (((x * 6) // w + (y * 4) // h) % 2)

    phash_rows = [
        (600, 36, 24, gradient(36, 24)),
        (601, 36, 24, gradient(36, 24, jitter=True)),
        (602, 72, 48, gradient(72, 48)),
        (603, 36, 24, checker(36, 24)),
        (604, 36, 24, gradient(36, 24, invert=True)),
    ]
    for mid, w, h, fn in phash_rows:
        rows.append(
            {
                "media_id": mid,
                "kind": "image",
                "payload": encode_png(w, h, pixel_fn=fn),
                "mime": "image/png",
            }
        )
    # audio-fingerprint battery (media_id 700+): shaped envelopes defined
    # on the hash's own 65-frame grid in relative position. 700=base,
    # 701=half amplitude (near-dup), 702=2× duration (near-dup),
    # 703=inverted envelope (distinct).
    def envelope(n_total, scale=1.0, invert=False):
        def f(i, n):
            cell = (i * 65) // n
            amp = (37 * cell + 11 * cell * cell) % 200 * 100
            if invert:
                amp = 19900 - amp
            v = int(amp * scale)
            return v if i % 2 == 0 else -v

        return f

    audio_rows = [
        (700, 6500, 1.0, False),
        (701, 6500, 0.5, False),
        (702, 13000, 1.0, False),
        (703, 6500, 1.0, True),
    ]
    for mid, n, scale, inv in audio_rows:
        rows.append(
            {
                "media_id": mid,
                "kind": "audio",
                "payload": encode_wav(n, sample_fn=envelope(n, scale, inv)),
                "mime": "audio/wav",
            }
        )
    # video-fingerprint battery (media_id 800+): shaped byte streams on
    # the 65-frame relative grid. 800=base, 801=2× duration re-render
    # (near-dup), 802=inverted envelope (distinct).
    def stream(n_total, invert=False):
        out = bytearray()
        for i in range(n_total):
            cell = (i * 65) // n_total
            v = (37 * cell + 11 * cell * cell) % 200
            out.append(199 - v if invert else v)
        return bytes(out)

    video_rows = [
        (800, 6500, False),
        (801, 13000, False),
        (802, 6500, True),
    ]
    for mid, n, inv in video_rows:
        rows.append(
            {
                "media_id": mid,
                "kind": "video",
                "payload": stream(n, inv),
                "mime": "video/fake",
            }
        )
    return rows


def _media_df(spark: SparkSession) -> DataFrame:
    """Deterministic media fixture: real PNG containers + FAKEIMG payloads
    + byte-stream 'videos'. Driver-side row build is fine — the payloads
    are the fixture, not the data path (at scale these arrive as a binary
    parquet/blob column)."""
    if spark in _MEDIA_CACHE:
        return _MEDIA_CACHE[spark]
    # pandas/Arrow build (not list-of-dicts): keeps the payload bytes as
    # JVM-local batches instead of a Python RDD re-pickled on every action.
    df = spark.createDataFrame(
        pd.DataFrame(media_rows()), schema=MEDIA_SCHEMA
    ).coalesce(1)
    _MEDIA_CACHE[spark] = df
    return df


@register(
    "multimodal_image_meta",
    # r10 graduation: golden-table oracle — the sequential decode of the
    # IDENTICAL media_rows() payload set (tools/make_golden.py), so the
    # hash row proves the Arrow-batched binary plumbing delivers the
    # sequential codec output.
    oracle=f"""
    SELECT media_id, width, height, n_bytes
    FROM read_parquet('{golden_path("multimodal_image_meta")}')
    """,
    doc="Image metadata extraction over a binary media column: real PNG "
    "headers + synthetic FAKEIMG payloads through the stdlib header codec "
    "via Arrow-batched mapInPandas. Payload bytes never shuffle — only "
    "the (media_id, width, height, n_bytes) projection leaves the map "
    "stage.",
)
def multimodal_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return image_metadata(_media_df(spark))


@register(
    "multimodal_frame_sample",
    # r10 graduation: golden-table oracle (sequential byte-slice mirror).
    oracle=f"""
    SELECT media_id, frame_idx, frame_len
    FROM read_parquet('{golden_path("multimodal_frame_sample")}')
    """,
    doc="Frame sampling over binary video payloads (1 row → N frames, "
    "UDTF shape via mapInPandas); returns frame sizes so the rows-only "
    "check pins the fan-out arithmetic.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = sample_frames(_media_df(spark), every_n_bytes=128)
    return frames.select(
        "media_id", "frame_idx", F.length("frame").cast("long").alias("frame_len")
    )


@register(
    "multimodal_audio_meta",
    # r10 graduation: golden-table oracle (sequential WAV/FAKEAUD decode
    # of the identical media_rows() payload set).
    oracle=f"""
    SELECT media_id, channels, sample_rate, bits_per_sample, duration_ms,
           n_bytes
    FROM read_parquet('{golden_path("multimodal_audio_meta")}')
    """,
    doc="Audio metadata extraction over a binary media column: real "
    "RIFF/WAVE containers (stdlib wave fixtures) + synthetic FAKEAUD "
    "payloads through the chunk-walking header codec via Arrow-batched "
    "mapInPandas — channels / sample rate / bit depth / duration without "
    "decoding a sample. Same posture as multimodal_image_meta: payload "
    "bytes never leave the map stage.",
)
def multimodal_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return audio_metadata(_media_df(spark))


VIDEO_META_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("timescale", T.LongType()),
        T.StructField("n_tracks", T.LongType()),
        T.StructField("mdat_bytes", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def _box(tag: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + tag + body


def encode_mp4(
    duration_ms: int, timescale: int = 1000, n_tracks: int = 1, mdat_size: int = 64
) -> bytes:
    """Minimal real ISO-BMFF container: ftyp + moov(mvhd v0 + empty trak
    markers) + mdat. Enough structure for any box-walking reader; a real
    encoder adds codec boxes inside trak, which the metadata walk below
    doesn't need."""
    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0) + b"isom")
    duration = duration_ms * timescale // 1000
    mvhd_body = (
        b"\x00\x00\x00\x00"  # version 0 + flags
        + struct.pack(">II", 0, 0)  # creation/modification
        + struct.pack(">II", timescale, duration)
        + struct.pack(">I", 0x00010000)  # rate 1.0
        + struct.pack(">H", 0x0100)  # volume 1.0
        + b"\x00" * 10  # reserved
        + struct.pack(">9I", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        + b"\x00" * 24  # pre_defined
        + struct.pack(">I", n_tracks + 1)  # next_track_id
    )
    moov = _box(b"moov", _box(b"mvhd", mvhd_body) + _box(b"trak", b"") * n_tracks)
    return ftyp + moov + _box(b"mdat", bytes(mdat_size % 251 for _ in range(mdat_size)))


def mp4_box_codec(payload: bytes) -> tuple[int, int, int, int]:
    """Walk top-level ISO-BMFF boxes (and moov's children) without decoding
    a sample: (duration_ms, timescale, n_tracks, mdat_bytes). Raises on
    anything that isn't a plausible MP4 — callers map failures to -1 rows
    the same way the image/audio codecs do."""
    if len(payload) < 12 or payload[4:8] != b"ftyp":
        raise ValueError("not an ISO-BMFF payload (no ftyp)")
    timescale = duration = None
    n_tracks = 0
    mdat_bytes = 0
    i = 0
    while i + 8 <= len(payload):
        size = struct.unpack_from(">I", payload, i)[0]
        tag = payload[i + 4 : i + 8]
        if size < 8:
            raise ValueError("corrupt box size")
        if tag == b"moov":
            j = i + 8
            end = min(i + size, len(payload))
            while j + 8 <= end:
                csize = struct.unpack_from(">I", payload, j)[0]
                ctag = payload[j + 4 : j + 8]
                if csize < 8:
                    raise ValueError("corrupt moov child")
                if ctag == b"mvhd":
                    version = payload[j + 8]
                    if version == 0:
                        timescale, duration = struct.unpack_from(">II", payload, j + 20)
                    else:  # version 1: 64-bit times
                        timescale = struct.unpack_from(">I", payload, j + 28)[0]
                        duration = struct.unpack_from(">Q", payload, j + 32)[0]
                elif ctag == b"trak":
                    n_tracks += 1
                j += csize
        elif tag == b"mdat":
            mdat_bytes += size - 8
        i += size
    if timescale is None:
        raise ValueError("no mvhd box")
    return int(duration * 1000 // max(timescale, 1)), timescale, n_tracks, mdat_bytes


def video_metadata(
    media: DataFrame,
    codec: Callable[[bytes], tuple[int, int, int, int]] = mp4_box_codec,
) -> DataFrame:
    """binary video → (media_id, duration_ms, timescale, n_tracks,
    mdat_bytes, n_bytes) via mapInPandas; payloads never shuffle."""

    def _run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in VIDEO_META_SCHEMA.fields]
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                data = bytes(payload)
                try:
                    dur, ts_, nt, mb = codec(data)
                except Exception:
                    dur = ts_ = nt = mb = -1
                rows.append(
                    {
                        "media_id": mid,
                        "duration_ms": dur,
                        "timescale": ts_,
                        "n_tracks": nt,
                        "mdat_bytes": mb,
                        "n_bytes": len(data),
                    }
                )
            yield pd.DataFrame(rows, columns=cols)

    return media.filter(F.col("kind") == "video").select(
        "media_id", "payload"
    ).mapInPandas(_run, schema=VIDEO_META_SCHEMA)


@register(
    "multimodal_video_meta",
    # r10 graduation: golden-table oracle (sequential ISO-BMFF box-walk
    # over the identical media_rows() payload set).
    oracle=f"""
    SELECT media_id, duration_ms, timescale, n_tracks, mdat_bytes, n_bytes
    FROM read_parquet('{golden_path("multimodal_video_meta")}')
    """,
    doc="Video metadata extraction over a binary media column: real "
    "ISO-BMFF (MP4) containers through a stdlib box-walk codec — "
    "duration / timescale / track count / mdat payload size without "
    "decoding a frame — plus byte-stream fakes mapping to -1 rows. "
    "Completes the image/audio/video codec triad; same posture as the "
    "other multimodal keys: payload bytes never leave the map stage.",
)
def multimodal_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return video_metadata(_media_df(spark))


def media_from_documents(docs: DataFrame, w: int = 32, h: int = 16) -> DataFrame:
    """sf-scaled synthetic image corpus: one FAKEIMG payload per document
    row, pixels derived from md5 chains over the doc_id — FULLY
    DISTRIBUTED construction (binary concat of unhex(md5) blocks inside
    the scan stage; payload bytes never touch the driver), so the decode
    bench/scaling numbers measure real Arrow batch throughput at corpus
    cardinality instead of the fixed 8-image fixture (r8: the first
    scaling run showed a meaningless flat exponent because the input
    didn't grow with sf).  Every 5th document reuses its predecessor's
    pixel basis, planting exact-duplicate payloads so the downstream
    dedup exercises the exact-collapse stage at scale."""
    n_blocks = (w * h) // 16  # md5 yields 16 pixel bytes per block
    # ONE parsed SQL expression for the whole payload (r15): the 32-block
    # Column-DSL build cost ~0.2 s of py4j round trips per construction
    # (same class as the band-entry catalog); the SQL string parses in
    # one trip and generates identical bytes.
    base = (
        "CAST(CASE WHEN doc_id % 5 = 4 THEN doc_id - 1 ELSE doc_id END"
        " AS STRING)"
    )
    header = (FAKE_MAGIC + struct.pack("<II", w, h)).hex()
    blocks = ",".join(
        f"unhex(md5(concat_ws('|', 'px', {base}, '{i}')))"
        for i in range(n_blocks)
    )
    payload = F.expr(f"concat(X'{header}', {blocks})")
    return docs.select(
        (F.col("doc_id") + 1_000_000).alias("media_id"),
        F.lit("image").alias("kind"),
        payload.alias("payload"),
        F.lit("image/fake").alias("mime"),
    )


def _image_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The codec fixture (real PNG containers, value-pinned in pytest)
    unioned with the sf-scaled synthetic corpus.

    spread() runs on the 8-byte doc_id projection BEFORE payload
    construction: the single-row-group fixture scans as 1-2 splits, which
    would starve the Python decode stage down to 2 of 32 cores (the r5
    starvation class) — but repartitioning payloads would break the
    family's 'payload bytes never shuffled' posture, so the exchange
    carries only ids and the binary concat + decode both run post-spread
    at full width (no-op on a real cluster, same as every spread site)."""
    from ._util import spread, t

    docs = spread(t(spark, sf_dir, "documents").select("doc_id"))
    return _media_df(spark).unionByName(media_from_documents(docs))


@register(
    "multimodal_image_phash",
    # r10 graduation: golden-table oracle — sequential PNG/FAKEIMG pixel
    # decode + dHash over the fixture images plus the md5-chain corpus
    # payloads, which are a pure function of doc_id; doc_id sets NEST
    # across sfs, so the corpus half joins against the live documents
    # table and one golden serves every sf.
    oracle=f"""
    SELECT media_id, phash
    FROM read_parquet('{golden_path("multimodal_image_phash")}')
    WHERE media_id < 1000000
    UNION ALL
    SELECT g.media_id, g.phash
    FROM read_parquet('{golden_path("multimodal_image_phash")}') g
    JOIN documents d ON g.media_id = d.doc_id + 1000000
    """,
    doc="64-bit dHash perceptual signature per image: stdlib pixel codec "
    "(full zlib decode of the filter-0 grayscale PNG subset + FAKEIMG "
    "raw bytes; injectable Pillow seam for everything else) → 9×8 "
    "nearest-neighbor resample → adjacent-cell comparison. Only the "
    "8-byte signature leaves the map stage. Runs over the codec fixture "
    "PLUS the sf-scaled synthetic corpus (one distributed-built FAKEIMG "
    "per document) so throughput tracks corpus size. Value checks in "
    "tests/test_multimodal.py: resize invariance, perturbation "
    "tolerance, pattern discrimination.",
)
def multimodal_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return image_phash(_image_corpus(spark, sf_dir))


@register(
    "dedup_image_phash",
    # r10 graduation: golden-table oracle from the sequential ALL-PAIRS
    # mirror (tools/make_golden.banded_dedup_mirror) — the banded join's
    # double-pigeonhole guarantees recall equal to the all-pairs scan at
    # hamming <= 6, so the hash row re-proves that guarantee end-to-end
    # on real signatures. Rep assignments restrict soundly to any sf:
    # a surviving row's rep comes only from SMALLER media_ids, which all
    # exist at every sf (ids nest upward).
    oracle=f"""
    SELECT media_id, phash, rep_id, is_dup
    FROM read_parquet('{golden_path("dedup_image_phash")}')
    WHERE media_id < 1000000
    UNION ALL
    SELECT g.media_id, g.phash, g.rep_id, g.is_dup
    FROM read_parquet('{golden_path("dedup_image_phash")}') g
    JOIN documents d ON g.media_id = d.doc_id + 1000000
    """,
    doc="Image near-dup dedup over the dHash signature: 7-band × "
    "8-block double-pigeonhole compound-key equi-join "
    "(dedup_simhash_neardup posture — banded candidates, never "
    f"all-pairs, recall GUARANTEED at hamming ≤ {PHASH_HAMMING_MAX}), "
    f"exact hamming ≤ {PHASH_HAMMING_MAX} verify via "
    "bit_count(xor), keep-first canonical rep; one output row per "
    "image. The multimodal twin of the text near-dup family: gradient "
    "re-rendered at 2× size and sparse-perturbed variants cluster with "
    "their base, checkerboard/inverted patterns stay distinct "
    "(tests/test_multimodal.py). Runs over the codec fixture PLUS the "
    "sf-scaled synthetic corpus with planted exact duplicates, so the "
    "end-to-end decode → signature → banded-join path is measured at "
    "corpus cardinality.",
)
def dedup_image_phash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_image_phash_frame(_image_corpus(spark, sf_dir))


@register(
    "multimodal_audio_fingerprint",
    # r10 graduation: golden-table oracle — sequential PCM decode +
    # envelope hash over the identical media_rows() payload set;
    # undecodable payloads carry NULL signatures on both sides.
    oracle=f"""
    SELECT media_id, phash
    FROM read_parquet('{golden_path("multimodal_audio_fingerprint")}')
    """,
    doc="64-bit energy-envelope fingerprint per audio clip: stdlib WAV "
    "PCM decode (injectable ffmpeg/soundfile seam for other formats) → "
    "65 relative frames → mean-|amplitude| envelope → adjacent-frame "
    "comparison. Invariant to amplitude scaling and duration "
    "re-rendering; only the 8-byte signature leaves the map stage. "
    "Value checks in tests/test_multimodal.py.",
)
def multimodal_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return audio_fingerprint(_media_df(spark))


@register(
    "dedup_audio_fingerprint",
    # r10 graduation: golden-table oracle from the sequential all-pairs
    # mirror over the fixture envelope hashes (NULL-signature fakes are
    # excluded on both sides, as the pipeline's isNotNull filter does).
    oracle=f"""
    SELECT media_id, phash, rep_id, is_dup
    FROM read_parquet('{golden_path("dedup_audio_fingerprint")}')
    """,
    doc="Audio near-dup dedup over the envelope fingerprint through the "
    "same banded-Hamming pipeline as dedup_image_phash (7-band × "
    "8-block compound-key candidates with guaranteed hamming-≤-6 "
    "recall, exact bit_count verify, keep-first rep, one row per "
    "clip). Half-amplitude and double-duration re-renders cluster with "
    "their base; an inverted envelope stays distinct.",
)
def dedup_audio_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_audio_fingerprint_frame(_media_df(spark))


@register(
    "multimodal_video_fingerprint",
    # r10 graduation: golden-table oracle (sequential temporal-envelope
    # mirror over the identical media_rows() payload set).
    oracle=f"""
    SELECT media_id, phash
    FROM read_parquet('{golden_path("multimodal_video_fingerprint")}')
    """,
    doc="64-bit temporal-envelope fingerprint per video: 65 byte-range "
    "frames by relative position, per-frame scalar (mean byte value by "
    "default; an injected decoder supplies per-frame mean luma), "
    "adjacent-frame difference hash. Completes the image/audio/video "
    "signature triad; duration re-renders cluster, inverted envelopes "
    "stay distinct (tests/test_multimodal.py).",
)
def multimodal_video_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return video_fingerprint(_media_df(spark))


@register(
    "dedup_video_fingerprint",
    # r10 graduation: golden-table oracle from the sequential all-pairs
    # mirror over the fixture temporal-envelope hashes.
    oracle=f"""
    SELECT media_id, phash, rep_id, is_dup
    FROM read_parquet('{golden_path("dedup_video_fingerprint")}')
    """,
    doc="Video near-dup dedup over the temporal-envelope fingerprint "
    "through the shared banded-Hamming pipeline (band candidates, "
    "bit_count verify, keep-first rep, one row per video).",
)
def dedup_video_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_video_fingerprint_frame(_media_df(spark))


# ---------------------------------------------------------------------------
# Oracle-paired twin of the banded-Hamming stage (VERDICT r6 item 4): the
# decode UDFs above are rows-only by contract, but the band join +
# bit_count verify + keep-first rep is pure SQL over signatures — so feed
# it a DETERMINISTIC signature table derived from documents.parquet and
# hash-check it against a naive all-pairs DuckDB oracle.  Because the
# 7-band × 8-block double pigeonhole guarantees recall at hamming ≤ 6,
# matching the naive scan is exact, not probabilistic.

_SIG_CLUSTERS = 50  # base signatures; members differ by planted bit flips


def _planted_sig_sql(engine: str) -> str:
    """Deterministic 60-bit signature per doc_id, identical in both
    engines: base = 15 md5 nibbles of the cluster id (hex→int
    nibble-by-nibble, the portable currency), xor a mask of f = doc_id%8
    flipped bits (0..7 — straddling the ≤6 threshold) at positions
    (doc_id*7 + i*13) % 60, which are pairwise distinct for i < 7."""
    if engine == "spark":
        # one md5 + conv instead of 15 nibble extractions (measured: the
        # nibble form cost ~0.1 ms/row in codegen and the sig expression
        # evaluates twice in the dedup DAG). conv() is big-endian, the
        # nibble sum is little-endian (substr position i+1 weighted
        # 16^i), so reverse() the 15-char hex first — bit-identical to
        # the DuckDB nibble form below, proven by the oracle hash check.
        base = (
            f"cast(conv(reverse(substr(md5(cast(doc_id % {_SIG_CLUSTERS} "
            f"as string)), 1, 15)), 16, 10) as bigint)"
        )
        flips = " + ".join(
            f"(CASE WHEN doc_id % 8 > {i} THEN shiftleft(cast(1 as bigint), "
            f"cast((doc_id * 7 + {i * 13}) % 60 as int)) ELSE cast(0 as bigint) END)"
            for i in range(7)
        )
        return f"({base} ^ cast({flips} as bigint))"
    base = " + ".join(
        f"cast((strpos('0123456789abcdef', substr(md5(cast(doc_id % {_SIG_CLUSTERS} "
        f"as VARCHAR)), {i + 1}, 1)) - 1) as bigint) * {1 << (4 * i)}"
        for i in range(15)
    )
    flips = " + ".join(
        f"(CASE WHEN doc_id % 8 > {i} THEN (1::BIGINT << ((doc_id * 7 + {i * 13}) % 60)::INT) "
        f"ELSE 0::BIGINT END)"
        for i in range(7)
    )
    return f"xor(({base})::BIGINT, ({flips})::BIGINT)"


@register(
    "dedup_signature_banded",
    oracle=f"""
    WITH sig AS (
      SELECT doc_id, {_planted_sig_sql("duckdb")} AS phash FROM documents
    )
    SELECT a.doc_id, a.phash,
           coalesce(min(b.doc_id), a.doc_id) AS rep_id,
           (coalesce(min(b.doc_id), a.doc_id) < a.doc_id) AS is_dup
    FROM sig a LEFT JOIN sig b
      ON b.doc_id < a.doc_id AND bit_count(xor(a.phash, b.phash)) <= {PHASH_HAMMING_MAX}
    GROUP BY a.doc_id, a.phash
    """,
    doc="The shared banded-Hamming near-dup stage under a DuckDB hash "
    "check: deterministic planted signatures (md5-derived 60-bit base "
    "per cluster, 0..7 flipped bits per member) run through the exact "
    "7-band × 8-block compound-key pipeline the image/audio/video "
    "dedup keys use (_banded_hamming_dedup); the oracle is the NAIVE "
    "all-pairs hamming ≤ 6 keep-first scan, so a green row proves the "
    "double-pigeonhole candidate generation loses no pair — the "
    "value-level driver check the rows-only multimodal triad cannot "
    "carry itself (decode is UDF-bound). Single-hop keep-first "
    "semantics on both sides.",
)
def dedup_signature_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ._util import t

    docs = t(spark, sf_dir, "documents")
    sig = docs.select(
        F.col("doc_id").alias("media_id"),
        F.expr(_planted_sig_sql("spark")).alias("phash"),
    )
    return _banded_hamming_dedup(sig).select(
        F.col("media_id").alias("doc_id"), "phash", "rep_id", "is_dup"
    )
