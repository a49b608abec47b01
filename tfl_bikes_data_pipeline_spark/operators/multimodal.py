"""Multimodal-column plumbing: opaque ``binary`` payloads with typed
metadata, processed by Arrow-batched Pandas UDFs over ``mapInPandas``.

The Spark-side machinery is real and tested — schema contracts, binary
columns, batch iteration, partition-preserving transforms. PNG pixel
decode and PCM-WAV sample decode are REAL in any container (stdlib
codecs, operators.imaging — exercised end-to-end by ``q_image_stats`` /
``q_audio_stats``, which encode+decode inside the executors and reduce
to oracle-checkable integer statistics). Only the remaining codec
families (progressive JPEG, compressed audio, video) stay behind
import gates (PIL/cv2/soundfile), with ``fake_decode_meta`` — a
deterministic byte-level "decode" — keeping their dataflow tested.

Scale notes: payload bytes never leave the executors; metadata
extraction is mapInPandas (narrow, no shuffle); downstream analytics
group on the extracted metadata only. At 100 TB the binary column
rides in parquet with column pruning keeping it unscanned unless the
query touches it.
"""

from __future__ import annotations

from collections.abc import Iterator
from decimal import ROUND_HALF_UP, Decimal

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scope import retain
from ..tables import load_table

META_SCHEMA = (
    "doc_id long, byte_len long, width int, height int, n_frames int, format string"
)


def _probe(module: str) -> bool:
    import importlib.util

    return importlib.util.find_spec(module) is not None


#: import-probed at module load: when a real imaging/audio stack is
#: present (full runtime), the decode seams below route through it
#: automatically; in this container they raise with a clear marker.
HAS_PIL = _probe("PIL")
HAS_CV2 = _probe("cv2")
HAS_SOUNDFILE = _probe("soundfile")


def decode_image(payload: bytes) -> "object":
    """Full pixel decode. PNG decodes NATIVELY via the stdlib codec
    (operators.imaging — zlib + the five row filters, returns a numpy
    array) in ANY container; other formats route through PIL when
    importable and raise otherwise. Header-level metadata does NOT
    need this: parse_media_header below reads container headers with
    pure byte arithmetic."""
    import struct
    import zlib

    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        from .imaging import decode_png

        try:
            return decode_png(payload)
        except (NotImplementedError, ValueError, zlib.error, struct.error):
            # out-of-scope variants (palette/16-bit/interlaced) or
            # truncated streams — same fallback contract as the JPEG
            # branch below: PIL when present, the original error else.
            if not HAS_PIL:
                raise
    elif payload[:6] in (b"GIF87a", b"GIF89a"):
        from .imaging import decode_gif

        try:
            return decode_gif(payload)
        except (NotImplementedError, ValueError, struct.error):
            if not HAS_PIL:
                raise
    elif payload[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg

        try:
            return decode_jpeg(payload)
        except (NotImplementedError, ValueError):
            # out-of-scope (progressive/12-bit/restart/non-interleaved)
            # OR malformed streams: a fuller codec may still decode
            # them — fall through to PIL when present, re-raise the
            # original otherwise.
            if not HAS_PIL:
                raise
    if HAS_PIL:
        import io

        from PIL import Image

        return Image.open(io.BytesIO(payload))
    raise NotImplementedError(
        "image decode outside the stdlib codecs (PNG/GIF/baseline JPEG) requires PIL"
    )


def decode_audio(payload: bytes) -> "object":
    """PCM WAV decodes NATIVELY via the stdlib ``wave`` codec
    (operators.imaging) — (samples, rate); other formats need
    soundfile."""
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        import wave as _wave

        from .imaging import decode_wav

        try:
            return decode_wav(payload)
        except (NotImplementedError, ValueError, _wave.Error, EOFError):
            # 24-bit/float PCM or compressed WAV — soundfile decodes
            # these natively when present; otherwise surface the
            # stdlib codec's scoped error.
            if not HAS_SOUNDFILE:
                raise
    if HAS_SOUNDFILE:
        import io

        import soundfile

        return soundfile.read(io.BytesIO(payload))
    raise NotImplementedError(
        "non-WAV audio decode requires soundfile, unavailable in this environment"
    )


def sample_video_frames(payload: bytes, every_n: int) -> "list[object]":
    """Every ``every_n``-th decoded frame. Routes through cv2 when the
    runtime has it (the import probe is load-bearing, not decorative);
    raises the scoped marker otherwise."""
    if HAS_CV2:  # pragma: no cover - exercised only in full runtimes
        import os
        import tempfile

        import cv2

        fd, path = tempfile.mkstemp(suffix=".bin")
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(payload)
            cap = cv2.VideoCapture(path)
            frames, idx = [], 0
            while True:
                ok, frame = cap.read()
                if not ok:
                    break
                if idx % every_n == 0:
                    frames.append(frame)
                idx += 1
            cap.release()
            return frames
        finally:
            os.unlink(path)
    raise NotImplementedError("video codec not available in this environment")


def parse_media_header(payload: bytes) -> dict | None:
    """REAL container-header parse — pure byte arithmetic, no codec
    library: PNG IHDR, GIF logical-screen descriptor, JPEG SOF scan,
    and WAV fmt-chunk dimensions straight from the published container
    specs. Returns the same typed dict shape as fake_decode_meta, or
    None when no magic signature matches (opaque payload → caller falls
    back to the deterministic fake). Parsed dimension/rate fields are
    validated against the int32 schema: a hostile or corrupt header can
    carry 4-byte values past 2^31 which would silently WRAP through the
    Arrow cast into META_SCHEMA's int columns (reproduced in review r5)
    — such headers are untrustworthy, so the parse returns None and the
    caller falls back. This is the decode path
    extract_meta(real=True) routes through — it works in THIS container
    and is what a header-only metadata pass at 100 TB actually does
    (full pixel decode stays behind the PIL/cv2 gates above)."""
    INT32_MAX = 2**31 - 1

    def _checked(meta: dict) -> dict | None:
        # any parsed field outside int32 means the header lies — fall
        # back rather than wrap through the Arrow cast.
        for k in ("width", "height", "n_frames"):
            if not (0 <= meta[k] <= INT32_MAX):
                return None
        return meta

    n = len(payload)
    if n >= 24 and payload[:8] == b"\x89PNG\r\n\x1a\n":
        width = int.from_bytes(payload[16:20], "big")
        height = int.from_bytes(payload[20:24], "big")
        return _checked({"byte_len": n, "width": width, "height": height,
                "n_frames": 1, "format": "png"})
    if n >= 10 and payload[:6] in (b"GIF87a", b"GIF89a"):
        width = int.from_bytes(payload[6:8], "little")
        height = int.from_bytes(payload[8:10], "little")
        # an accurate frame count needs a full block walk (image
        # descriptors are only meaningful at block positions — raw
        # byte scans miscount on color-table/LZW data); a header-only
        # pass honestly reports 1.
        return _checked({"byte_len": n, "width": width, "height": height,
                "n_frames": 1, "format": "gif"})
    if n >= 4 and payload[:2] == b"\xff\xd8":
        # JPEG: walk markers to the first SOFn for dimensions. 0xFF
        # fill bytes are legal padding between segments — skip runs of
        # them before reading the marker byte.
        i = 2
        while i + 9 < n:
            if payload[i] != 0xFF:
                break
            while i + 9 < n and payload[i + 1] == 0xFF:
                i += 1
            marker = payload[i + 1]
            if 0xD0 <= marker <= 0xD9 or marker == 0x01:
                # standalone markers (RSTn/SOI/EOI/TEM) carry no length
                i += 2
                continue
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                height = int.from_bytes(payload[i + 5:i + 7], "big")
                width = int.from_bytes(payload[i + 7:i + 9], "big")
                return {"byte_len": n, "width": width, "height": height,
                        "n_frames": 1, "format": "jpeg"}
            seg_len = int.from_bytes(payload[i + 2:i + 4], "big")
            if seg_len < 2:
                break  # corrupt length — stop rather than loop forever
            i += 2 + seg_len
        return _checked({"byte_len": n, "width": 0, "height": 0,
                "n_frames": 1, "format": "jpeg"})
    if n >= 36 and payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        # walk RIFF chunks to the 'fmt ' chunk — BWF/pro-audio files
        # routinely put JUNK/bext/LIST chunks first, so fixed offsets
        # read garbage. Unparseable chunk layout → None (caller falls
        # back to the deterministic fake decode).
        i = 12
        while i + 8 <= n:
            chunk_id = payload[i:i + 4]
            chunk_len = int.from_bytes(payload[i + 4:i + 8], "little")
            if chunk_id == b"fmt " and i + 16 <= n:
                channels = int.from_bytes(payload[i + 10:i + 12], "little")
                sample_rate = int.from_bytes(payload[i + 12:i + 16], "little")
                return _checked({"byte_len": n, "width": sample_rate, "height": channels,
                        "n_frames": 1, "format": "wav"})
            # chunks are word-aligned: odd lengths carry a pad byte
            i += 8 + chunk_len + (chunk_len % 2)
        return None
    return None


def fake_decode_meta(payload: bytes) -> dict:
    """Deterministic stand-in for a codec header parse: derives typed
    metadata purely from the bytes. Same signature/shape a real decoder
    would produce."""
    n = len(payload)
    return {
        "byte_len": n,
        "width": n % 640,
        "height": (n * 7) % 480,
        "n_frames": n % 16 + 1,
        "format": "img" if n % 2 == 0 else "vid",
    }


def attach_payload(documents: DataFrame) -> DataFrame:
    """Opaque binary payload column (UTF-8 bytes of text stands in for
    real media bytes; real ingest would read files into `binary`).
    NULL-text rows carry no payload and are absent from media ops —
    a codec cannot decode a missing blob."""
    return documents.where(F.col("text").isNotNull()).select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )


def extract_meta(with_payload: DataFrame, real: bool = False) -> DataFrame:
    """mapInPandas metadata extraction: Arrow batches of (doc_id,
    payload) in, typed metadata rows out. Narrow transform — no
    shuffle, executor-local.

    ``real=True`` routes each payload through parse_media_header (the
    pure-byte container-header parse — works in this container) and
    falls back to fake_decode_meta only for payloads with no recognized
    magic signature. The declared oracle query keeps ``real=False`` so
    the DuckDB oracle's textual mirror stays exact; the real path is
    unit-tested with crafted PNG/GIF/JPEG/WAV headers."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if real:
                meta = pdf["payload"].map(
                    lambda p: parse_media_header(p) or fake_decode_meta(p)
                )
            else:
                meta = pdf["payload"].map(fake_decode_meta)
            out = pd.DataFrame(list(meta))
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return with_payload.mapInPandas(op, schema=META_SCHEMA)


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    documents = load_table(spark, sf_dir, "documents")
    return extract_meta(attach_payload(documents)).orderBy("doc_id")


FRAME_EVERY_N = 4


def sample_frames(meta: DataFrame, every_n: int = FRAME_EVERY_N) -> DataFrame:
    """Frame sampling over video-format payloads: one output row per
    kept frame (indices 0, n, 2n, ...), with a deterministic per-frame
    feature standing in for the decoded-frame embedding (real decoder
    drops into the same mapInPandas seam; see sample_video_frames).
    Row-expanding batch transform — output batches are larger than
    input batches, the shape a real frame sampler produces."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vids = pdf[pdf["format"] == "vid"]
            rows = {"doc_id": [], "frame_idx": [], "feature": []}
            for doc_id, n_frames in zip(vids["doc_id"], vids["n_frames"]):
                for idx in range(0, int(n_frames), every_n):
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(idx)
                    rows["feature"].append(int(doc_id * 31 + idx) % 997)
            yield pd.DataFrame(rows)

    return meta.mapInPandas(op, schema="doc_id long, frame_idx int, feature int")


def q_multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    documents = load_table(spark, sf_dir, "documents")
    meta = extract_meta(attach_payload(documents))
    return sample_frames(meta).orderBy("doc_id", "frame_idx")


ORACLES: dict[str, str] = {
    # strlen() is byte length in DuckDB — identical to len(utf-8 bytes).
    "q_multimodal_meta": """
        SELECT doc_id,
               strlen(text)::BIGINT AS byte_len,
               (strlen(text) % 640)::INT AS width,
               ((strlen(text) * 7) % 480)::INT AS height,
               (strlen(text) % 16 + 1)::INT AS n_frames,
               CASE WHEN strlen(text) % 2 = 0 THEN 'img' ELSE 'vid' END AS format
        FROM documents WHERE text IS NOT NULL ORDER BY doc_id
    """,
    # frames 0, 4, 8, ... of each 'vid' payload, feature = deterministic
    # stand-in arithmetic — integer-exact in both engines.
    "q_multimodal_framesample": f"""
        WITH meta AS (
            SELECT doc_id, (strlen(text) % 16 + 1)::INT AS n_frames
            FROM documents WHERE text IS NOT NULL AND strlen(text) % 2 = 1
        )
        SELECT doc_id,
               (f * {FRAME_EVERY_N})::INT AS frame_idx,
               ((doc_id * 31 + f * {FRAME_EVERY_N}) % 997)::INT AS feature
        FROM meta, range(0, 16) t(f)
        WHERE f * {FRAME_EVERY_N} < n_frames
        ORDER BY doc_id, frame_idx
    """,
}

QUERIES = {
    "q_multimodal_meta": q_multimodal_meta,
    "q_multimodal_framesample": q_multimodal_framesample,
}

BENCH: list = []


# ---------------------------------------------------------------------------
# perceptual-hash near-dup over binary payloads
# ---------------------------------------------------------------------------

AHASH_CELLS = 64
AHASH_BANDS = 8  # pigeonhole: hamming ≤ 7 ⇒ ≥1 identical 8-bit band
AHASH_MAX_HAMMING = AHASH_BANDS - 1


def ahash(with_payload: DataFrame) -> DataFrame:
    """(doc_id, ahash) — 64-bit average-hash of each binary payload:
    64 cell intensities (mean-thresholded) packed into one BIGINT, the
    classic perceptual-image-hash recipe. The DECODE step — payload →
    64 cells — runs in mapInPandas (Arrow batches, executor-local): in
    this container the cells are the first 64 payload bytes (a real
    pixel decode drops into the same seam behind the PIL gate exactly
    as decode_image documents, emitting 8×8 downsampled grayscale
    instead); everything downstream of the cells is codec-agnostic.

    Cell extraction is pure byte arithmetic so the DuckDB oracle can
    mirror it per-position (fixture payloads are UTF-8/ASCII text:
    byte i == character i); the threshold mean is an exact integer sum
    over a double division — identical in IEEE on both engines."""

    import numpy as np  # hoisted: _pixel_cells runs once per payload

    def _pixel_cells(payload: bytes) -> list[int]:
        """8×8 average-pooled grayscale cells from a REAL pixel decode
        (PNG/GIF/baseline-JPEG via the stdlib codecs — JPEG matters
        most: real JPEGs share near-identical leading bytes (SOI + JFIF
        + quant tables), so byte-cell hashing would collide unrelated
        images into a flood of false pairs; review r5) — the classic
        aHash recipe. Opaque payloads fall back to their first 64 bytes
        (the deterministic stand-in the text-fixture oracle mirrors)."""
        if (
            payload[:8] == b"\x89PNG\r\n\x1a\n"
            or payload[:6] in (b"GIF87a", b"GIF89a")
            or payload[:2] == b"\xff\xd8"
        ):
            try:
                px = decode_image(bytes(payload)).astype("int64")
            except Exception:
                # signature-colliding or truncated/corrupt payloads are
                # ROUTINE in crawled corpora (a text doc starting with
                # "GIF87a", a half-fetched PNG) — the hash must stay
                # total over arbitrary bytes, so undecodable payloads
                # take the byte-cell path instead of failing the job.
                px = None
            if px is not None:
                gray = px.mean(axis=2) if px.ndim == 3 else px
                h, w = gray.shape
                ys = np.linspace(0, h, 9).astype(int)
                xs = np.linspace(0, w, 9).astype(int)
                return [
                    int(gray[ys[i] : max(ys[i + 1], ys[i] + 1),
                             xs[j] : max(xs[j + 1], xs[j] + 1)].mean())
                    for i in range(8)
                    for j in range(8)
                ]
        cells = list(payload[:AHASH_CELLS])
        return cells + [0] * (AHASH_CELLS - len(cells))

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hashes = []
            for payload in pdf["payload"]:
                cells = _pixel_cells(payload)
                mean = sum(cells) / float(AHASH_CELLS)
                h = 0
                for i, c in enumerate(cells):
                    if c > mean:
                        h |= 1 << i
                # two's-complement into signed int64 (bit 63 is the
                # sign bit) — Arrow/BIGINT on both engines is signed.
                if h & (1 << 63):
                    h -= 1 << 64
                hashes.append(h)
            yield pd.DataFrame({"doc_id": pdf["doc_id"].values, "ahash": hashes})

    return with_payload.mapInPandas(op, schema="doc_id long, ahash long")


def ahash_pairs(hashes: DataFrame, max_hamming: int = AHASH_MAX_HAMMING) -> DataFrame:
    """(doc_a, doc_b, hamming) — perceptual near-dup pairs: the shared
    banded-hamming discipline (:func:`..dedup.banded_hamming_pairs`)
    over the 64-bit hash in 8 byte-wide bands (pigeonhole covers
    hamming ≤ 7) — one dedup discipline across modalities, one place
    carrying the signed-shift masking rule."""
    from .dedup import banded_hamming_pairs

    return banded_hamming_pairs(hashes, "ahash", 64, AHASH_BANDS, max_hamming)


def q_multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup across the binary payload column: the
    image-dedup pass of a multimodal ingest pipeline (byte-identical
    copies hash equal; near-identical payloads land within the hamming
    budget). The hash relation is retained before the banded
    self-join — without it each side of the join re-runs the
    mapInPandas decode (the same discipline q_dedup_simhash_pairs
    applies, dedup.py:1273)."""
    from ..tables import ensure_scan_parallelism

    # conditional widen before the opaque mapInPandas decode: the
    # single-row-group fixture otherwise runs the whole per-payload
    # pixel/hash pass in ONE Python worker (profiled r13: 1-task
    # 1.1 s dominant stage; interleaved A/B 0.53). No-op at warehouse
    # split counts — no corpus shuffle in the production plan.
    documents = ensure_scan_parallelism(
        load_table(spark, sf_dir, "documents"), spark
    )
    hashes = retain(ahash(attach_payload(documents)))
    return ahash_pairs(hashes).orderBy("doc_a", "doc_b")


def _ahash_cell_sql(i: int) -> str:
    # cell i (0-based): BYTE i of the UTF-8 payload, 0 past end. Spark
    # hashes encode(text,'utf-8') bytes, so the oracle must index bytes
    # too — ord(substr(text,...)) would read CODEPOINTS and diverge on
    # any non-ASCII character in the first 64 bytes (ADVICE r4). DuckDB
    # has no blob[i], so go through the hex dump: byte i is the hex
    # pair at chars 2i+1..2i+2, cast back via the 0x literal form.
    return f"CASE WHEN blen > {i} THEN ('0x' || substr(hx, {2 * i + 1}, 2))::INT ELSE 0 END"


_AHASH_SUM = " + ".join(_ahash_cell_sql(i) for i in range(AHASH_CELLS))
# bit 63 is the sign bit of the signed-BIGINT hash: its term is
# -2^63 (two's complement), matching the Python side's wraparound.
_AHASH_BITS = " + ".join(
    f"(CASE WHEN ({_ahash_cell_sql(i)}) > cell_mean THEN "
    f"{f'{2**i}::BIGINT' if i < 63 else '(-9223372036854775807::BIGINT - 1::BIGINT)'} ELSE 0::BIGINT END)"
    for i in range(AHASH_CELLS)
)

ORACLES["q_multimodal_phash_pairs"] = f"""
    WITH payloads AS (
        SELECT doc_id, hex(encode(text)) AS hx, strlen(text) AS blen
        FROM documents WHERE text IS NOT NULL
    ),
    means AS (
        SELECT doc_id, hx, blen,
               ({_AHASH_SUM}) / {AHASH_CELLS}.0 AS cell_mean
        FROM payloads
    ),
    hashes AS (
        SELECT doc_id, ({_AHASH_BITS})::BIGINT AS ahash FROM means
    ),
    bands AS (
        SELECT doc_id, ahash, b.band_id,
               (ahash >> (b.band_id * 8)) & 255 AS band_key
        FROM hashes,
             (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) b(band_id)
    )
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
           bit_count(xor(x.ahash, y.ahash))::INT AS hamming
    FROM bands x JOIN bands y
      ON x.band_id = y.band_id AND x.band_key = y.band_key
    WHERE x.doc_id < y.doc_id
      AND bit_count(xor(x.ahash, y.ahash)) <= {AHASH_MAX_HAMMING}
    ORDER BY doc_a, doc_b
"""

QUERIES["q_multimodal_phash_pairs"] = q_multimodal_phash_pairs


#: top-N band buckets the profile reports
BUCKET_PROFILE_TOP = 20


def q_ahash_bucket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight for [[q_multimodal_phash_pairs]]: the heaviest band
    buckets of the aHash banded index with their exact pair budgets
    (n·(n−1)/2 per bucket). A banded pair join's cost IS the sum of
    these bounds, so this one linear pass is how an operator decides
    whether the pair listing is safe to run — the r10 100× sweep hit a
    corpus whose hot buckets implied billions of candidates, and the
    profile would have said so up front for the cost of a scan."""
    from .dedup import banded_bucket_profile

    # scan widening MEASURED and REJECTED here (r13): unlike the pair
    # queries, the profile is ONE aggregate over the hash relation —
    # the decode is read once, so the round-robin exchange cost
    # dominated (interleaved A/B 1.68 vs unwidened on this 0.5 s query).
    documents = load_table(spark, sf_dir, "documents")
    hashes = ahash(attach_payload(documents))
    return banded_bucket_profile(
        hashes, "ahash", 64, AHASH_BANDS, BUCKET_PROFILE_TOP
    )


ORACLES["q_ahash_bucket_profile"] = f"""
    WITH payloads AS (
        SELECT doc_id, hex(encode(text)) AS hx, strlen(text) AS blen
        FROM documents WHERE text IS NOT NULL
    ),
    means AS (
        SELECT doc_id, hx, blen,
               ({_AHASH_SUM}) / {AHASH_CELLS}.0 AS cell_mean
        FROM payloads
    ),
    hashes AS (
        SELECT doc_id, ({_AHASH_BITS})::BIGINT AS ahash FROM means
    ),
    bands AS (
        SELECT b.band_id, (ahash >> (b.band_id * 8)) & 255 AS band_key
        FROM hashes,
             (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) b(band_id)
    )
    SELECT band_id, band_key, count(1)::BIGINT AS n_docs,
           (count(1) * (count(1) - 1) // 2)::BIGINT AS pair_bound
    FROM bands GROUP BY band_id, band_key
    ORDER BY n_docs DESC, band_id, band_key LIMIT {BUCKET_PROFILE_TOP}
"""
QUERIES["q_ahash_bucket_profile"] = q_ahash_bucket_profile


def q_multimodal_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-collapse-then-near-dup for the binary modality — the
    image-side mirror of the text curation pipeline's discipline
    (quality → EXACT dedup → LSH on survivors). The r7 10× replica
    sweep measured the flat pair listing (:func:`q_multimodal_phash_pairs`)
    growing 348.6× in OUTPUT on replicated byte-identical payloads —
    quadratic in identical-payload cluster depth by definition. Here
    byte-identical payloads first collapse to one representative
    (md5-digest groupBy, min doc_id, cluster size kept), and the
    banded-hamming join then sees each distinct payload ONCE — pair
    count is invariant to duplication depth, the 100 TB posture.

    Output: (doc_a, doc_b, hamming, copies_a, copies_b) over
    representatives, cluster sizes carried so downstream keep/drop
    logic can weight by exact-duplicate mass."""
    from ..tables import ensure_scan_parallelism

    # conditional widen: the md5-digest pass and (via the rep join's
    # inherited partitioning) the representative ahash decode otherwise
    # run single-task over the one-split fixture (profiled r13: 1-task
    # 0.97 s ahash stage). No-op at warehouse split counts.
    documents = ensure_scan_parallelism(
        load_table(spark, sf_dir, "documents"), spark
    )
    wp = attach_payload(documents)
    # md5 over the payload BYTES == DuckDB md5(text) over UTF-8
    digests = wp.select(
        "doc_id", F.substring(F.md5("payload"), 1, 16).alias("dg")
    )
    # reps feeds THREE joins below (representative selection + both
    # cluster-size annotations); uncached, each consumer re-ran the
    # full digest scan+groupBy (measured 23.4 s vs the flat listing's
    # 16.7 s at 20× before the retain)
    reps = retain(
        digests.groupBy("dg").agg(
            F.min("doc_id").alias("rep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )
    # NO broadcast hints on reps or its projections: reps has DISTINCT-
    # PAYLOAD cardinality — roughly corpus-sized once exact duplicates
    # are the exception — so a forced broadcast would OOM at the 100 TB
    # posture this docstring claims. AQE picks BHJ when the collapse
    # output happens to be small (heavy exact duplication) and falls
    # back to a shuffle join when it isn't.
    rep_payloads = wp.join(
        reps.select("rep_id"),
        wp["doc_id"] == F.col("rep_id"),
    ).select("doc_id", "payload")
    pairs = ahash_pairs(retain(ahash(rep_payloads)))
    a = reps.select(
        F.col("rep_id").alias("doc_a"), F.col("n_copies").alias("copies_a")
    )
    b = reps.select(
        F.col("rep_id").alias("doc_b"), F.col("n_copies").alias("copies_b")
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", "hamming", "copies_a", "copies_b")
        .orderBy("doc_a", "doc_b")
    )


ORACLES["q_multimodal_dedup_canonical"] = f"""
    WITH payloads AS (
        SELECT doc_id, hex(encode(text)) AS hx, strlen(text) AS blen,
               substr(md5(text), 1, 16) AS dg
        FROM documents WHERE text IS NOT NULL
    ),
    reps AS (
        SELECT dg, min(doc_id) AS rep_id, count(1)::BIGINT AS n_copies
        FROM payloads GROUP BY dg
    ),
    rp AS (
        SELECT p.doc_id, p.hx, p.blen
        FROM payloads p JOIN reps r ON p.doc_id = r.rep_id
    ),
    means AS (
        SELECT doc_id, hx, blen,
               ({_AHASH_SUM}) / {AHASH_CELLS}.0 AS cell_mean
        FROM rp
    ),
    hashes AS (
        SELECT doc_id, ({_AHASH_BITS})::BIGINT AS ahash FROM means
    ),
    bands AS (
        SELECT doc_id, ahash, b.band_id,
               (ahash >> (b.band_id * 8)) & 255 AS band_key
        FROM hashes,
             (VALUES (0),(1),(2),(3),(4),(5),(6),(7)) b(band_id)
    ),
    pairs AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
               bit_count(xor(x.ahash, y.ahash))::INT AS hamming
        FROM bands x JOIN bands y
          ON x.band_id = y.band_id AND x.band_key = y.band_key
        WHERE x.doc_id < y.doc_id
          AND bit_count(xor(x.ahash, y.ahash)) <= {AHASH_MAX_HAMMING}
    )
    SELECT p.doc_a, p.doc_b, p.hamming,
           ra.n_copies AS copies_a, rb.n_copies AS copies_b
    FROM pairs p
    JOIN reps ra ON ra.rep_id = p.doc_a
    JOIN reps rb ON rb.rep_id = p.doc_b
    ORDER BY p.doc_a, p.doc_b
"""

QUERIES["q_multimodal_dedup_canonical"] = q_multimodal_dedup_canonical


# ---------------------------------------------------------------------------
# REAL codec round-trips inside the gate
# ---------------------------------------------------------------------------

IMG_W, IMG_H = 16, 8
IMG_DOC_MOD = 10
AUDIO_N, AUDIO_RATE = 256, 16000


def q_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG pixel decode, distributed: every sampled doc becomes a
    deterministic 16×8 grayscale image (pixel = (doc_id·31 + y·16 + x)
    mod 256), PNG-ENCODED and PNG-DECODED inside the executor batch
    (stdlib zlib codec — actual IDAT inflate + row unfilter), then
    reduced to exact integer statistics. The DuckDB oracle re-derives
    the statistics arithmetically from the pixel formula, so any fault
    anywhere in the binary layer (chunk CRCs, filter math, stride
    handling) breaks the value hash. This is the image half of the
    multimodal decode seam running for real, not faked."""
    import numpy as np

    from .imaging import decode_png, encode_png

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % IMG_DOC_MOD == 0
    ).select("doc_id")

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "width": [], "height": [], "pixel_sum": [], "mean_px": []}
            for doc_id in pdf["doc_id"]:
                y, x = np.mgrid[0:IMG_H, 0:IMG_W]
                px = ((int(doc_id) * 31 + y * IMG_W + x) % 256).astype("uint8")
                decoded = decode_png(encode_png(px))
                rows["doc_id"].append(doc_id)
                rows["height"].append(decoded.shape[0])
                rows["width"].append(decoded.shape[1])
                s = int(decoded.astype("int64").sum())
                rows["pixel_sum"].append(s)
                # half-UP to 6dp, not Python round() (half-even): the
                # oracle's DuckDB round() is half-away-from-zero, and
                # s/128 terminates in 7 decimal digits so a 6dp tie is
                # reachable — don't rely on pixel_sum parity (ADVICE r4).
                mean = Decimal(s) / Decimal(IMG_H * IMG_W)
                rows["mean_px"].append(float(mean.quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)))
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        op, "doc_id long, width int, height int, pixel_sum long, mean_px double"
    ).orderBy("doc_id")


def q_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PCM-WAV decode, distributed: per sampled doc a 256-sample
    int16 waveform (sample_i = (doc_id·7 + i·13) mod 4096 − 2048) is
    WAV-encoded and WAV-decoded in the executor (stdlib ``wave``),
    then reduced to exact integer statistics the oracle re-derives
    from the formula — the audio half of the decode seam, real."""
    import numpy as np

    from .imaging import decode_wav, encode_wav

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % IMG_DOC_MOD == 0
    ).select("doc_id")

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "n_samples": [], "rate": [], "sample_sum": [], "max_abs": []}
            for doc_id in pdf["doc_id"]:
                i = np.arange(AUDIO_N)
                s = ((int(doc_id) * 7 + i * 13) % 4096 - 2048).astype("int16")
                arr, rate = decode_wav(encode_wav(s, AUDIO_RATE))
                rows["doc_id"].append(doc_id)
                rows["n_samples"].append(arr.shape[0])
                rows["rate"].append(rate)
                rows["sample_sum"].append(int(arr[:, 0].astype("int64").sum()))
                rows["max_abs"].append(int(np.abs(arr[:, 0].astype("int64")).max()))
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        op, "doc_id long, n_samples int, rate int, sample_sum long, max_abs int"
    ).orderBy("doc_id")


ORACLES["q_image_stats"] = f"""
    WITH px AS (
        SELECT d.doc_id, (d.doc_id * 31 + y.y * {IMG_W} + x.x) % 256 AS p
        FROM (SELECT doc_id FROM documents WHERE doc_id % {IMG_DOC_MOD} = 0) d
        CROSS JOIN range({IMG_H}) y(y)
        CROSS JOIN range({IMG_W}) x(x)
    )
    SELECT doc_id, {IMG_W}::INT AS width, {IMG_H}::INT AS height,
           sum(p)::BIGINT AS pixel_sum,
           round(sum(p) / {IMG_H * IMG_W}.0, 6) AS mean_px
    FROM px GROUP BY doc_id ORDER BY doc_id
"""

ORACLES["q_audio_stats"] = f"""
    WITH s AS (
        SELECT d.doc_id, (d.doc_id * 7 + i.i * 13) % 4096 - 2048 AS v
        FROM (SELECT doc_id FROM documents WHERE doc_id % {IMG_DOC_MOD} = 0) d
        CROSS JOIN range({AUDIO_N}) i(i)
    )
    SELECT doc_id, {AUDIO_N}::INT AS n_samples, {AUDIO_RATE}::INT AS rate,
           sum(v)::BIGINT AS sample_sum, max(abs(v))::INT AS max_abs
    FROM s GROUP BY doc_id ORDER BY doc_id
"""

QUERIES["q_image_stats"] = q_image_stats
QUERIES["q_audio_stats"] = q_audio_stats
BENCH.append("q_image_stats")


#: nearest-neighbor downsample factor for the resize seam
RESIZE_FACTOR = 2


def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize through the REAL codec, twice: decode the
    deterministic PNG, nearest-neighbor downsample ×2 (``V[::2, ::2]``
    — the standard integer-factor NN kernel: out[y, x] = in[2y, 2x]),
    then RE-ENCODE and RE-DECODE the resized image before reducing to
    exact integer statistics — so the value hash covers the full
    decode→transform→encode→decode dataflow a thumbnailing /
    vision-preprocessing stage runs, not just one decode. The oracle
    re-derives the surviving pixels arithmetically (the even-(y, x)
    lattice of the generator formula)."""
    import numpy as np

    from .imaging import decode_png, encode_png

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % IMG_DOC_MOD == 0
    ).select("doc_id")
    f = RESIZE_FACTOR

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "width": [], "height": [], "pixel_sum": [], "mean_px": []}
            for doc_id in pdf["doc_id"]:
                y, x = np.mgrid[0:IMG_H, 0:IMG_W]
                px = ((int(doc_id) * 31 + y * IMG_W + x) % 256).astype("uint8")
                small = decode_png(encode_png(px))[::f, ::f]
                decoded = decode_png(encode_png(small))
                rows["doc_id"].append(doc_id)
                rows["height"].append(decoded.shape[0])
                rows["width"].append(decoded.shape[1])
                s = int(decoded.astype("int64").sum())
                rows["pixel_sum"].append(s)
                # half-UP to 6dp — same rounding contract as q_image_stats
                mean = Decimal(s) / Decimal(decoded.shape[0] * decoded.shape[1])
                rows["mean_px"].append(
                    float(mean.quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP))
                )
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        op, "doc_id long, width int, height int, pixel_sum long, mean_px double"
    ).orderBy("doc_id")


def q_audio_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decimation through the REAL WAV codec, twice: decode,
    take every RESIZE_FACTOR-th sample (integer-factor decimation —
    the anti-aliasing-free nearest kernel, deterministic by
    construction), re-encode at the halved sample rate, re-decode, and
    reduce — the audio twin of [[q_image_resize]]'s
    decode→transform→encode→decode seam."""
    import numpy as np

    from .imaging import decode_wav, encode_wav

    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % IMG_DOC_MOD == 0
    ).select("doc_id")
    f = RESIZE_FACTOR

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "n_samples": [], "rate": [], "sample_sum": [], "max_abs": []}
            for doc_id in pdf["doc_id"]:
                i = np.arange(AUDIO_N)
                s0 = ((int(doc_id) * 7 + i * 13) % 4096 - 2048).astype("int16")
                first, rate0 = decode_wav(encode_wav(s0, AUDIO_RATE))
                arr, rate = decode_wav(encode_wav(first[::f, 0].astype("int16"), rate0 // f))
                rows["doc_id"].append(doc_id)
                rows["n_samples"].append(arr.shape[0])
                rows["rate"].append(rate)
                rows["sample_sum"].append(int(arr[:, 0].astype("int64").sum()))
                rows["max_abs"].append(int(np.abs(arr[:, 0].astype("int64")).max()))
            yield pd.DataFrame(rows)

    return docs.mapInPandas(
        op, "doc_id long, n_samples int, rate int, sample_sum long, max_abs int"
    ).orderBy("doc_id")


ORACLES["q_image_resize"] = f"""
    WITH px AS (
        SELECT d.doc_id,
               (d.doc_id * 31 + (y.y * {RESIZE_FACTOR}) * {IMG_W}
                + x.x * {RESIZE_FACTOR}) % 256 AS p
        FROM (SELECT doc_id FROM documents WHERE doc_id % {IMG_DOC_MOD} = 0) d
        CROSS JOIN range({IMG_H // RESIZE_FACTOR}) y(y)
        CROSS JOIN range({IMG_W // RESIZE_FACTOR}) x(x)
    )
    SELECT doc_id, {IMG_W // RESIZE_FACTOR}::INT AS width,
           {IMG_H // RESIZE_FACTOR}::INT AS height,
           sum(p)::BIGINT AS pixel_sum,
           round(sum(p) / {(IMG_H // RESIZE_FACTOR) * (IMG_W // RESIZE_FACTOR)}.0, 6)
               AS mean_px
    FROM px GROUP BY doc_id ORDER BY doc_id
"""

ORACLES["q_audio_resample"] = f"""
    WITH s AS (
        SELECT d.doc_id,
               (d.doc_id * 7 + (i.i * {RESIZE_FACTOR}) * 13) % 4096 - 2048 AS v
        FROM (SELECT doc_id FROM documents WHERE doc_id % {IMG_DOC_MOD} = 0) d
        CROSS JOIN range({AUDIO_N // RESIZE_FACTOR}) i(i)
    )
    SELECT doc_id, {AUDIO_N // RESIZE_FACTOR}::INT AS n_samples,
           {AUDIO_RATE // RESIZE_FACTOR}::INT AS rate,
           sum(v)::BIGINT AS sample_sum, max(abs(v))::INT AS max_abs
    FROM s GROUP BY doc_id ORDER BY doc_id
"""

QUERIES["q_image_resize"] = q_image_resize
QUERIES["q_audio_resample"] = q_audio_resample


# ---------------------------------------------------------------------------
# dead-letter decode: quarantine undecodable payloads (VERDICT r8 item 8)
# ---------------------------------------------------------------------------

#: class selector for the mixed-media corpus: (doc_id // IMG_DOC_MOD)
#: % 3 → 0: valid PNG, 1: valid PCM WAV, 2: PLANTED-corrupt PNG
#: (truncated mid-IHDR — sniffs as PNG, cannot decode).
QUARANTINE_CLS_MOD = 3
#: corrupt payloads keep the 8-byte PNG signature plus the IHDR chunk
#: length/type but cut INSIDE the 13-byte IHDR body — the earliest
#: truncation that still sniffs as PNG.
CORRUPT_PNG_BYTES = 24

DECODE_QUARANTINE_SCHEMA = (
    "doc_id long, media_type string, status string, reason string, value_sum long"
)


def attach_mixed_payloads(docs: DataFrame) -> DataFrame:
    """(doc_id, payload binary) — deterministic mixed-media corpus with
    PLANTED corrupt payloads, the fixture for the dead-letter decode
    path: cls 0 docs carry the [[q_image_stats]] formula image as a
    real PNG, cls 1 docs the [[q_audio_stats]] waveform as a real PCM
    WAV, cls 2 docs the SAME PNG truncated to its first
    ``CORRUPT_PNG_BYTES`` bytes — it still sniffs as PNG (magic +
    IHDR header survive) but fails decode, the 'one progressive JPEG
    in a 100 TB corpus' stand-in."""
    import numpy as np

    from .imaging import encode_png, encode_wav

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "payload": []}
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                cls = (did // IMG_DOC_MOD) % QUARANTINE_CLS_MOD
                if cls == 1:
                    i = np.arange(AUDIO_N)
                    s = ((did * 7 + i * 13) % 4096 - 2048).astype("int16")
                    payload = encode_wav(s, AUDIO_RATE)
                else:
                    y, x = np.mgrid[0:IMG_H, 0:IMG_W]
                    px = ((did * 31 + y * IMG_W + x) % 256).astype("uint8")
                    payload = encode_png(px)
                    if cls == 2:
                        payload = payload[:CORRUPT_PNG_BYTES]
                rows["doc_id"].append(doc_id)
                rows["payload"].append(payload)
            yield pd.DataFrame(rows)

    return docs.mapInPandas(op, "doc_id long, payload binary")


def decode_stats_quarantine(with_payload: DataFrame) -> DataFrame:
    """(doc_id, media_type, status, reason, value_sum) — decode every
    payload of a mixed corpus, QUARANTINING per-row instead of failing
    the job: scoped codec errors (truncated streams, out-of-scope
    variants like progressive JPEG — the exact raises the stdlib
    codecs are bounded by, operators/jpeg.py + imaging.py) become
    ``status='quarantined'`` rows carrying the error class as
    ``reason``, while ok rows carry the decoded pixel/sample sum. A
    100 TB corpus always contains undecodable payloads; one of them
    must cost one DEAD-LETTER ROW, never the job — the binary twin of
    [[tfl_bikes_data_pipeline_spark.sources.raw.read_csv_quarantine]].
    ``reason`` is the qualified exception class (messages vary across
    library versions; the class is stable and groupable).

    Scale shape: one narrow mapInPandas pass — payloads never cross a
    shuffle; the dead-letter split is a predicate on the output, so
    clean rows and quarantine rows are one scan apart, and replay is a
    filter on ``status``."""
    import struct
    import wave
    import zlib

    from .imaging import decode_png, decode_wav

    scoped = (
        NotImplementedError,
        ValueError,
        zlib.error,
        struct.error,
        wave.Error,
        EOFError,
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                "doc_id": [],
                "media_type": [],
                "status": [],
                "reason": [],
                "value_sum": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                payload = bytes(payload)
                if payload[:8] == b"\x89PNG\r\n\x1a\n":
                    media = "png"
                elif payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
                    media = "wav"
                else:
                    media = "unknown"
                try:
                    if media == "png":
                        value = int(decode_png(payload).astype("int64").sum())
                    elif media == "wav":
                        arr, _rate = decode_wav(payload)
                        value = int(arr[:, 0].astype("int64").sum())
                    else:
                        raise NotImplementedError("no codec for unsniffable payload")
                    status, reason = "ok", None
                except scoped as exc:
                    status, value = "quarantined", None
                    reason = f"{type(exc).__module__}.{type(exc).__name__}"
                rows["doc_id"].append(doc_id)
                rows["media_type"].append(media)
                rows["status"].append(status)
                rows["reason"].append(reason)
                rows["value_sum"].append(value)
            yield pd.DataFrame(rows)

    return with_payload.mapInPandas(op, DECODE_QUARANTINE_SCHEMA)


def dead_letter(decoded: DataFrame) -> DataFrame:
    """The quarantine side output: undecodable payload rows with their
    error class, ready for a replay queue or a quarantine warehouse
    write — the relation a batch job inspects instead of a stack
    trace."""
    return decoded.where(F.col("status") == "quarantined").select(
        "doc_id", "media_type", "reason"
    )


def q_media_decode_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-corpus decode with planted corrupt payloads: per media
    type, how many payloads decoded (``n_ok``), how many were
    dead-lettered (``n_quarantined``), and the exact decoded value sum
    over the ok rows — proving the job SURVIVED the corrupt payloads
    AND still decoded everything else correctly (the oracle re-derives
    the sums arithmetically from the generator formulas and the counts
    from the planted class pattern)."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % IMG_DOC_MOD == 0)
        .select("doc_id")
    )
    decoded = decode_stats_quarantine(attach_mixed_payloads(docs))
    return (
        decoded.groupBy("media_type")
        .agg(
            F.sum((F.col("status") == "ok").cast("long")).alias("n_ok"),
            F.sum((F.col("status") == "quarantined").cast("long")).alias(
                "n_quarantined"
            ),
            F.sum(
                F.when(F.col("status") == "ok", F.col("value_sum"))
            ).alias("value_sum"),
        )
        .orderBy("media_type")
    )


ORACLES["q_media_decode_quarantine"] = f"""
    WITH sample AS (
        SELECT doc_id, (doc_id // {IMG_DOC_MOD}) % {QUARANTINE_CLS_MOD} AS cls
        FROM documents WHERE doc_id % {IMG_DOC_MOD} = 0
    ),
    png_ok AS (
        SELECT d.doc_id,
               sum((d.doc_id * 31 + y.y * {IMG_W} + x.x) % 256)::BIGINT AS v
        FROM sample d
        CROSS JOIN range({IMG_H}) y(y)
        CROSS JOIN range({IMG_W}) x(x)
        WHERE d.cls = 0 GROUP BY d.doc_id
    ),
    wav_ok AS (
        SELECT d.doc_id,
               sum((d.doc_id * 7 + i.i * 13) % 4096 - 2048)::BIGINT AS v
        FROM sample d CROSS JOIN range({AUDIO_N}) i(i)
        WHERE d.cls = 1 GROUP BY d.doc_id
    ),
    rows_ AS (
        SELECT doc_id, 'png' AS media_type, 'ok' AS status, v FROM png_ok
        UNION ALL
        SELECT doc_id, 'wav' AS media_type, 'ok' AS status, v FROM wav_ok
        UNION ALL
        SELECT doc_id, 'png' AS media_type, 'quarantined' AS status,
               NULL::BIGINT AS v
        FROM sample WHERE cls = 2
    )
    SELECT media_type,
           sum(CASE WHEN status = 'ok' THEN 1 ELSE 0 END)::BIGINT AS n_ok,
           sum(CASE WHEN status = 'quarantined' THEN 1 ELSE 0 END)::BIGINT
               AS n_quarantined,
           sum(CASE WHEN status = 'ok' THEN v END)::BIGINT AS value_sum
    FROM rows_ GROUP BY media_type ORDER BY media_type
"""

QUERIES["q_media_decode_quarantine"] = q_media_decode_quarantine
