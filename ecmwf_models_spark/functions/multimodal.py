"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, decoded and featurized inside Arrow-batched UDFs.

Image decode is REAL for PNG payloads — a pure-stdlib codec
(functions/png.py: zlib inflate + all five PNG scanline filters;
grayscale/RGB/RGBA at 8 and 16 bits plus 8-bit palette) — AND for
baseline JPEG (functions/jpeg.py: Huffman entropy decode + vectorized
IDCT, grayscale/YCbCr at any chroma subsampling, restart intervals).
gen_media emits genuine PNG bytes alternating truecolor and palette
encodings (or, fmt="jpeg", genuine baseline JPEGs), so the
decode->resize->pool pipeline executes end-to-end and is oracled against
closed-form pixel values (entries `image_decode_features`,
`image_decode_features_jpeg`). Formats that require native codecs
(progressive JPEG, audio/video containers) raise loudly; opaque
non-image-format payloads fall back to a deterministic hash-expansion
fake so schema/partitioning tests run on any payload. On a cluster you
swap `decode_image`'s codec branches for PIL/torchvision; nothing else
changes.

Pattern: mapInPandas over batches of (id, kind, data:binary, meta:map) —
Arrow moves the binary payloads zero-copy; per-batch vectorized numpy does
the feature math.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .gif import decode_gif, encode_gif
from .jpeg import decode_jpeg, encode_jpeg
from .png import decode_png, encode_png
from .wav import decode_wav, encode_wav

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("data", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
    ]
)


class DecoderUnavailable(NotImplementedError):
    pass


def _decode_image_stub(data: bytes, width: int, height: int) -> np.ndarray:
    """Deterministic fake decode for OPAQUE payloads (no recognizable
    image container): bytes -> (h, w, 3) uint8 from a hash expansion.
    Lets schema/partitioning tests run on arbitrary binary; real image
    bytes never reach this path (PNG decodes for real, JPEG raises)."""
    if data is None:
        raise DecoderUnavailable("no payload")
    seed = int.from_bytes(hashlib.sha256(data).digest()[:8], "little")
    rs = np.random.RandomState(seed % (2**32))
    return rs.randint(0, 256, size=(height, width, 3), dtype=np.uint8)


def decode_image(data: bytes, width: int, height: int) -> np.ndarray:
    """bytes -> (h, w, 3) uint8. PNG and baseline JPEG payloads decode
    for REAL via the pure-stdlib codecs (functions/png.py,
    functions/jpeg.py; grayscale broadcast to 3 channels, alpha dropped);
    progressive/arithmetic JPEG raises DecodeError loudly (swap in
    libjpeg/PIL here on a cluster); anything else is treated as an opaque
    test payload and hash-expanded deterministically. The (width, height)
    metadata columns are a CONTRACT — a decoded size mismatch fails loud,
    because downstream batching groups by them."""
    if data is None:
        raise DecoderUnavailable("no payload")
    b = bytes(data)
    arr = None
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        arr = decode_png(b)
    elif b[:3] == b"\xff\xd8\xff":
        arr = decode_jpeg(b)
    if arr is not None:
        if arr.shape[0] != height or arr.shape[1] != width:
            raise ValueError(
                f"decoded image is {arr.shape[1]}x{arr.shape[0]} but "
                f"metadata says {width}x{height}"
            )
        if arr.shape[2] == 1:
            arr = np.repeat(arr, 3, axis=2)
        elif arr.shape[2] == 4:
            arr = arr[:, :, :3]
        return arr
    return _decode_image_stub(b, width, height)


# closed-form synthetic pixel value — gen_media encodes it into real PNG
# bytes and the image_decode_features oracle recomputes it in SQL, so the
# decode path is value-checked end-to-end
def _synth_pixel_expr(mid, y, x, c):
    return (mid * 31 + y * 7 + x * 13 + c * 97) % 256


def _synth_pixels(mid: int, width: int, height: int) -> np.ndarray:
    y, x, c = np.ogrid[0:height, 0:width, 0:3]
    return _synth_pixel_expr(mid, y, x, c).astype(np.uint8)


# the synthetic pattern has at most 256 distinct RGB triples, indexed by
# k = (mid*31 + y*7 + x*13) % 256 with channel c = (k + c*97) % 256 — so
# the SAME pixels are expressible as a palette (color type 3) image, and
# alternating encodings exercises the PLTE decode path under the SAME
# value oracle (image_decode_features) with zero oracle changes
_SYNTH_PALETTE = np.stack(
    [(np.arange(256) + c * 97) % 256 for c in range(3)], axis=1
).astype(np.uint8)


def _png_payload_batch(
    mid: pd.Series, width: pd.Series, height: pd.Series
) -> pd.Series:
    out = []
    for i, w, h in zip(mid, width, height):
        i, w, h = int(i), int(w), int(h)
        # cycle the scanline filter with the id so every PNG filter
        # type (None/Sub/Up/Average/Paeth) is exercised in the wild,
        # for BOTH encodings (image ids are multiples of 3, so i % 5
        # walks all five filters within each parity class); a third of
        # the images are additionally Adam7-interlaced (coprime strides,
        # so every palette x interlace combination occurs)
        adam7 = (i // 3) % 3 == 2
        if (i // 3) % 2 == 1:  # every other image row: palette-encoded
            y, x = np.ogrid[0:h, 0:w]
            idx = ((i * 31 + y * 7 + x * 13) % 256).astype(np.uint8)
            out.append(
                encode_png(
                    idx, i % 5, palette=_SYNTH_PALETTE, interlace=adam7
                )
            )
        else:
            out.append(
                encode_png(_synth_pixels(i, w, h), i % 5, interlace=adam7)
            )
    return pd.Series(out)


# JPEG payloads use a BLOCK-constant gray-valued pattern: a constant 8x8
# block carries only its DC coefficient, which unit quantization
# preserves exactly, and R=G=B pixels give Cb=Cr=128 exactly — so the
# lossy-in-general format decodes BIT-EXACTLY here and sits under the
# same kind of value-exact SQL oracle as the PNG path
# (entry image_decode_features_jpeg)
def _jpeg_block_value(mid, by, bx):
    return (mid * 31 + by * 7 + bx * 13) % 256


def _jpeg_payload_batch(
    mid: pd.Series, width: pd.Series, height: pd.Series
) -> pd.Series:
    out = []
    for i, w, h in zip(mid, width, height):
        i, w, h = int(i), int(w), int(h)
        y, x = np.ogrid[0:h, 0:w]
        img = _jpeg_block_value(i, y // 8, x // 8).astype(np.uint8)
        rgb = np.repeat(img[:, :, None], 3, axis=2)
        # cycle the stream shape with the id so chroma subsampling
        # (4:2:0 / 4:4:4 / 4:2:2), restart markers and 16-bit DQT are
        # all exercised in the wild under the one value oracle
        sub = [(2, 2), (1, 1), (2, 1)][(i // 3) % 3]
        out.append(
            encode_jpeg(
                rgb,
                subsample=sub,
                restart_interval=(i // 3) % 2,
                quant_precision=(i // 3) % 2,
            )
        )
    return pd.Series(out)


# audio payloads: a closed-form integer waveform s[i] =
# ((mid*37 + 11*i) % 201) - 100, alternating PCM16 and IEEE-float32
# storage (both lossless for these values — wav.py scale contract), so
# the decode->window->feature pipeline is value-oracled end-to-end
# (entry audio_decode_features) just like the image paths
def _wav_sample_expr(mid, i):
    return (mid * 37 + 11 * i) % 201 - 100


def _wav_n_samples(mid: int) -> int:
    # audio ids are all ≡ 1 (mod 3), so vary by mid // 3: 1200/1600/2000
    # samples -> 3/4/5 full 25 ms windows at 16 kHz
    return 1200 + ((mid // 3) % 3) * 400


def _wav_payload_batch(
    mid: pd.Series, rate: pd.Series
) -> pd.Series:
    out = []
    for i, r in zip(mid, rate):
        i, r = int(i), int(r)
        s = _wav_sample_expr(i, np.arange(_wav_n_samples(i))).astype(
            np.float64
        )
        fmt = "float32" if (i // 3) % 2 else "pcm16"
        out.append(encode_wav(s, sample_rate=r, fmt=fmt))
    return pd.Series(out)


# video payloads: real animated GIFs — frame f of clip mid is SOLID
# palette index (mid*13 + f*7) % 16 over the closed-form palette
# entry[j][c] = (j*17 + c*47 + 3) % 256, n_frames from the metadata
# column — so per-frame channel means are exact palette values and the
# decode->frame-sample->feature pipeline is value-oracled end-to-end
# (entry video_decode_features)
_GIF_PALETTE = np.stack(
    [(np.arange(16) * 17 + c * 47 + 3) % 256 for c in range(3)], axis=1
).astype(np.uint8)


def _gif_frame_index(mid, f):
    return (mid * 13 + f * 7) % 16


def _gif_payload_batch(
    mid: pd.Series, width: pd.Series, height: pd.Series, nf: pd.Series
) -> pd.Series:
    out = []
    for i, w, h, n in zip(mid, width, height, nf):
        i, w, h, n = int(i), int(w), int(h), int(n)
        idx = _gif_frame_index(i, np.arange(n))
        frames = np.broadcast_to(
            idx[:, None, None], (n, h, w)
        ).astype(np.uint8)
        out.append(encode_gif(frames, _GIF_PALETTE, delay_cs=4))
    return pd.Series(out)


def gen_media(
    spark,
    n: int = 64,
    width: int = 16,
    height: int = 12,
    fmt: str = "png",
) -> DataFrame:
    """Deterministic synthetic media table. Image rows carry REAL
    payloads of a closed-form pixel pattern (decoded for real by
    image_features): fmt="png" alternates truecolor/palette PNGs of the
    per-pixel pattern; fmt="jpeg" emits baseline color JPEGs (mixed
    4:2:0/4:4:4/4:2:2, restart intervals, 8/16-bit DQT) of the
    block-constant gray-valued pattern. Audio/video payloads stay opaque
    hash bytes."""
    base = spark.range(n).select(
        F.col("id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.pmod(F.col("id"), F.lit(3)) + 1).cast("int"),
        ).alias("kind"),
        F.lit(width).alias("width"),
        F.lit(height).alias("height"),
        F.lit(16000).alias("sample_rate"),
        (F.pmod(F.col("id"), F.lit(8)) + 1).cast("int").alias("n_frames"),
    )
    # pandas_udf parses its DDL return type against the active session,
    # so construct it here rather than at module import
    png_payload = F.pandas_udf(
        _jpeg_payload_batch if fmt == "jpeg" else _png_payload_batch,
        "binary",
    )
    wav_payload = F.pandas_udf(_wav_payload_batch, "binary")
    gif_payload = F.pandas_udf(_gif_payload_batch, "binary")
    return base.select(
        "media_id",
        "kind",
        F.when(
            F.col("kind") == "image",
            png_payload("media_id", "width", "height"),
        )
        .when(
            F.col("kind") == "audio",
            wav_payload("media_id", "sample_rate"),
        )
        .when(
            F.col("kind") == "video",
            gif_payload("media_id", "width", "height", "n_frames"),
        )
        .otherwise(
            F.sha2(F.col("media_id").cast("string"), 256).cast("binary")
        )
        .alias("data"),
        "width",
        "height",
        "sample_rate",
        "n_frames",
    )


def image_features(media: DataFrame, resize_to: tuple[int, int] = (4, 4)) -> DataFrame:
    """Decode -> resize -> mean-pool features for image rows. Batch-shaped:
    one Arrow batch in, one out. Decode is necessarily per-image (a real
    libjpeg call is too), but ALL the feature math — nearest-neighbour
    resize, channel pooling, luminance — runs once per (width, height)
    group as a single stacked-ndarray operation, not per image."""
    rh, rw = resize_to
    # doubles, not floats: channel/spatial means of uint8 pixels are
    # exact integer sums divided once, so float64 results reproduce
    # bit-identically in any engine — what lets the SQL oracle
    # (image_decode_features) hash-match the decoded values
    out_schema = (
        "media_id long, feat array<double>, mean_lum double, "
        "out_h int, out_w int"
    )
    cols = ["media_id", "feat", "mean_lum", "out_h", "out_w"]

    def _proc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf["kind"] == "image"]
            if len(pdf) == 0:
                yield pd.DataFrame(columns=cols)
                continue
            # pandas groupby silently drops NaN keys — a NULL width or
            # height would make the row vanish with no signal; fail loud
            # like the old per-row int() cast did
            bad = pdf["width"].isna() | pdf["height"].isna()
            if bad.any():
                raise ValueError(
                    "image_features: NULL width/height for media_id(s) "
                    f"{pdf.loc[bad, 'media_id'].tolist()[:5]}"
                )
            for (w, h), grp in pdf.groupby(["width", "height"], sort=False):
                w, h = int(w), int(h)
                imgs = np.stack(
                    [decode_image(bytes(d), w, h) for d in grp["data"]]
                )  # (n, h, w, 3) — one ndarray for the whole size-group
                yi = np.arange(rh) * h // rh
                xi = np.arange(rw) * w // rw
                small = imgs[:, yi[:, None], xi[None, :], :]  # (n,rh,rw,3)
                feats = (
                    small.astype(np.float64)
                    .mean(axis=3)
                    .reshape(len(grp), rh * rw)
                )
                yield pd.DataFrame(
                    {
                        "media_id": grp["media_id"].to_numpy(),
                        "feat": list(feats),
                        "mean_lum": imgs.astype(np.float64).mean(
                            axis=(1, 2, 3)
                        ),
                        "out_h": rh,
                        "out_w": rw,
                    },
                    columns=cols,
                )

    return media.mapInPandas(_proc, schema=out_schema)


def video_frame_features(media: DataFrame, every_k: int = 2) -> DataFrame:
    """Decode -> sample -> per-frame features for video rows: one row per
    SAMPLED frame (frames 0, every_k, 2*every_k, ...) with the frame's mean
    R/G/B. The DECODE is real (functions/gif.py: full LZW, compositing,
    transparency); channel means are exact integer sums divided once,
    bit-reproducible in any engine — what lets the SQL oracle
    (video_decode_features) hash-match the decoded values. The n_frames
    metadata column is a CONTRACT: a payload with a different frame
    count fails loud, like image width/height."""
    out_schema = (
        "media_id long, frame_idx int, mean_r double, mean_g double, "
        "mean_b double"
    )
    cols = ["media_id", "frame_idx", "mean_r", "mean_g", "mean_b"]

    def _proc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf["kind"] == "video"]
            if len(pdf) == 0:
                yield pd.DataFrame(columns=cols)
                continue
            frames_out = []
            for mid, data, nf in zip(
                pdf["media_id"], pdf["data"], pdf["n_frames"]
            ):
                frames, _delays = decode_gif(bytes(data))
                if len(frames) != int(nf):
                    raise ValueError(
                        f"video_frame_features: media_id {mid} metadata "
                        f"says {nf} frames but payload has {len(frames)}"
                    )
                sel = np.arange(0, len(frames), every_k)
                means = frames[sel].astype(np.float64).mean(axis=(1, 2))
                frames_out.append(
                    pd.DataFrame(
                        {
                            "media_id": int(mid),
                            "frame_idx": sel.astype(np.int32),
                            "mean_r": means[:, 0],
                            "mean_g": means[:, 1],
                            "mean_b": means[:, 2],
                        },
                        columns=cols,
                    )
                )
            yield pd.concat(frames_out, ignore_index=True)

    return media.mapInPandas(_proc, schema=out_schema)


def audio_features(media: DataFrame, win_ms: int = 25) -> DataFrame:
    """Decode -> window -> per-window features for audio rows, one row
    per full window: mean amplitude, energy (mean square) and
    zero-crossing count. The DECODE is real (functions/wav.py: RIFF
    parse, PCM8/PCM16/float32 sample formats, all returned in the signed
    16-bit value scale) and all feature math is one reshaped-ndarray
    operation per clip — no per-sample Python. Channels are averaged
    before windowing (mono clips pass through exactly). Integer-valued
    samples make every feature an exact integer sum divided once, so
    float64 results reproduce bit-identically in any engine — what lets
    the SQL oracle (audio_decode_features) hash-match the decoded
    values."""
    out_schema = (
        "media_id long, win_idx int, mean_amp double, energy double, "
        "zero_cross int"
    )
    cols = ["media_id", "win_idx", "mean_amp", "energy", "zero_cross"]

    def _proc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf[pdf["kind"] == "audio"]
            if len(pdf) == 0:
                yield pd.DataFrame(columns=cols)
                continue
            frames = []
            for mid, data, rate in zip(
                pdf["media_id"], pdf["data"], pdf["sample_rate"]
            ):
                s, dec_rate = decode_wav(bytes(data))
                if int(rate) != dec_rate:
                    raise ValueError(
                        f"audio_features: media_id {mid} metadata says "
                        f"{rate} Hz but payload is {dec_rate} Hz"
                    )
                w = dec_rate * win_ms // 1000
                mono = s.mean(axis=1)
                nwin = len(mono) // w
                win = mono[: nwin * w].reshape(nwin, w)
                zc = ((win[:, :-1] * win[:, 1:]) < 0).sum(axis=1)
                frames.append(
                    pd.DataFrame(
                        {
                            "media_id": int(mid),
                            "win_idx": np.arange(nwin, dtype=np.int32),
                            "mean_amp": win.mean(axis=1),
                            "energy": (win * win).mean(axis=1),
                            "zero_cross": zc.astype(np.int32),
                        },
                        columns=cols,
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return media.mapInPandas(_proc, schema=out_schema)
