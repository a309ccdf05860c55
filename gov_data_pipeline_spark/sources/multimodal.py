"""Multimodal column conventions + decode plumbing (SURVEY north-star
"multimodal columns"; reference ancestor: the base64 image column,
``handlers/base.py:200-274``).

Convention: a media value is a struct ``{mime: string, data: binary,
meta: map<string,string>}``. Media bytes ride Spark as opaque binary —
they partition, shuffle and spill like any column; only the decode /
feature-extract step touches the payload, inside ``mapInPandas`` so
bytes cross to Python once per Arrow batch, never per row.

The actual image/audio decode libraries are NOT in this runtime, so
``decode_media_features`` runs a clearly-marked deterministic fallback
(size/digest/pseudo-features) when PIL is absent — the Spark-side
plumbing (schema, batch shape, partition behavior) is real and tested;
swap ``_extract_real`` in when the codec libs exist.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F, types as T

MEDIA_TYPE = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("data", T.BinaryType()),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    ]
)

FEATURES_TYPE = T.StructType(
    [
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)


def pack_media_col(data: Column, mime: str, meta: Column | None = None) -> Column:
    """Assemble the media struct from a binary column."""
    return F.struct(
        F.lit(mime).alias("mime"),
        data.alias("data"),
        (
            meta
            if meta is not None
            else F.create_map().cast("map<string,string>")
        ).alias("meta"),
    )


def _extract_fake(data: bytes) -> tuple[int, str, list[float]]:
    """Deterministic stand-in for image decode + embedding: byte count,
    content digest, and 8 pseudo-features from the md5 hex chars.
    STUB — replace with a real decoder (PIL/torchvision/ffmpeg) when
    the codec libraries are available in the runtime."""
    digest = hashlib.sha256(data).hexdigest()
    md5 = hashlib.md5(data).hexdigest()
    feats = [float(ord(c)) for c in md5[:8]]
    return len(data), digest, feats


def decode_media_features(
    df: DataFrame, media_col: str, out_col: str = "media_features"
) -> DataFrame:
    """Append ``{n_bytes, sha256, features}`` extracted from the media
    payload. One Arrow crossing per batch; CPU-bound decode parallelism
    == task parallelism, the right model for a 100 TB media corpus."""
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, FEATURES_TYPE)]
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for media in pdf[media_col]:
                data = media["data"] if media is not None else None
                if data is None:
                    feats.append(None)
                    continue
                n, digest, vec = _extract_fake(bytes(data))
                feats.append({"n_bytes": n, "sha256": digest, "features": vec})
            yield pdf.assign(**{out_col: pd.Series(feats, index=pdf.index, dtype="object")})

    return df.mapInPandas(mapper, schema=out_schema)


def frame_sample(
    df: DataFrame,
    media_col: str,
    every_n: int = 30,
    frame_col: str = "frame",
    idx_col: str = "frame_idx",
) -> DataFrame:
    """Video frame sampling: one OUTPUT ROW per sampled frame (row
    explosion happens inside ``mapInPandas`` — frames of one video stay
    in one task, videos parallelize across tasks, which is the right
    batch shape for a 100 TB media corpus).

    Decode is gated exactly like the other media ops:

    - PyAV, when importable, decodes real containers (mp4/mkv/...) and
      emits every ``every_n``-th decoded frame;
    - otherwise the deterministic **raw-frame profile** handles
      ``mime == "video/x-raw"``: ``meta["frame_size"]`` gives the fixed
      bytes-per-frame, the payload slices into consecutive frames (a
      trailing partial frame is dropped), and every ``every_n``-th
      frame from index 0 is kept. This keeps schema, batch shape and
      row-explosion semantics real and testable without a codec;
    - any other mime without PyAV raises ``NotImplementedError``
      (clearly marked stub boundary).

    ``idx_col`` carries the frame's index in the SOURCE stream (0,
    every_n, 2·every_n, ...), not a dense resample index.
    """
    if every_n < 1:
        raise ValueError(f"frame_sample: every_n must be >= 1, got {every_n}")
    out_fields = list(df.schema.fields)
    out_schema = T.StructType(
        out_fields
        + [T.StructField(idx_col, T.LongType()), T.StructField(frame_col, MEDIA_TYPE)]
    )
    in_names = [f.name for f in out_fields]

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        try:  # pragma: no cover - runtime lacks PyAV; raw profile tested
            import av  # noqa: F401

            have_av = True
        except Exception:
            have_av = False
        for pdf in batches:
            rows: list[dict] = []
            for rec in pdf.to_dict("records"):
                media = rec[media_col]
                if media is None or media["data"] is None:
                    continue
                mime = media["mime"] or ""
                data = bytes(media["data"])
                meta = dict(media["meta"] or {})
                if mime == "video/x-raw":
                    fsize = int(meta.get("frame_size", "0") or 0)
                    if fsize <= 0:
                        raise ValueError(
                            "frame_sample: video/x-raw media needs a positive "
                            "meta['frame_size']"
                        )
                    n_frames = len(data) // fsize
                    for i in range(0, n_frames, every_n):
                        frame = {
                            "mime": "image/x-raw",
                            "data": data[i * fsize : (i + 1) * fsize],
                            "meta": {**meta, "src_frame": str(i)},
                        }
                        rows.append({**rec, idx_col: i, frame_col: frame})
                elif have_av:  # pragma: no cover - PyAV absent here
                    import io

                    import av

                    with av.open(io.BytesIO(data)) as container:
                        for i, fr in enumerate(container.decode(video=0)):
                            if i % every_n:
                                continue
                            png = fr.to_image()
                            buf = io.BytesIO()
                            png.save(buf, format="PNG")
                            frame = {
                                "mime": "image/png",
                                "data": buf.getvalue(),
                                "meta": {**meta, "src_frame": str(i)},
                            }
                            rows.append({**rec, idx_col: i, frame_col: frame})
                else:
                    raise NotImplementedError(
                        f"frame_sample: decoding {mime!r} needs a video codec "
                        "(PyAV/ffmpeg) not present in this runtime; use the "
                        "video/x-raw profile or install the codec."
                    )
            if rows:
                yield pd.DataFrame(
                    {c: [r[c] for r in rows] for c in in_names + [idx_col, frame_col]}
                )

    return df.mapInPandas(mapper, schema=out_schema)


def image_header_col(data: Column) -> Column:
    """Container-header probe as a PURE COLUMN EXPRESSION:
    struct<format, width, height> for PNG and GIF binaries, nulls for
    anything else. The JVM-side twin of :func:`png_codec.image_info`
    — at 100 TB of images the metadata pass must not ship every blob
    through Arrow to Python just to read 24 header bytes; this stays
    inside whole-stage codegen and reads O(header) bytes per row
    (``substring`` on binary slices, no full-blob hex).

    JPEG is deliberately absent here: its dimensions live in an SOFn
    segment at a data-dependent offset (a scan, not a fixed slice) —
    the ``mapInPandas`` prober handles it; probing a JPEG with this
    returns format=null.
    """

    def be32(pos: int) -> Column:
        return F.conv(F.hex(F.substring(data, pos, 4)), 16, 10).cast("long")

    def u8(pos: int) -> Column:
        return F.conv(F.hex(F.substring(data, pos, 1)), 16, 10).cast("long")

    def le16(pos: int) -> Column:
        return u8(pos) + 256 * u8(pos + 1)

    is_png = (F.hex(F.substring(data, 1, 8)) == "89504E470D0A1A0A") & (
        F.hex(F.substring(data, 13, 4)) == "49484452"  # IHDR
    )
    is_gif = F.hex(F.substring(data, 1, 3)) == "474946"
    fmt = (
        F.when(is_png, F.lit("png"))
        .when(is_gif, F.lit("gif"))
        .otherwise(F.lit(None).cast("string"))
    )
    width = (
        F.when(is_png, be32(17)).when(is_gif, le16(7)).otherwise(F.lit(None))
    )
    height = (
        F.when(is_png, be32(21)).when(is_gif, le16(9)).otherwise(F.lit(None))
    )
    return F.struct(
        fmt.alias("format"), width.alias("width"), height.alias("height")
    )


def wav_header_col(data: Column) -> Column:
    """Canonical PCM WAV header probe as a pure column expression:
    struct<channels, sample_rate, bits, duration_ms> — nulls when the
    bytes are not a canonical-layout WAV.

    Canonical layout = RIFF/WAVE with ``fmt `` as the first chunk and
    ``data`` immediately after (what every encoder writes for plain
    PCM): all fields then sit at fixed little-endian offsets, so the
    probe stays in codegen like :func:`image_header_col`. Files with
    extra chunks (LIST/INFO metadata) fall to the ``mapInPandas``
    prober — the column checks the ``data`` tag before trusting the
    layout, so a non-canonical file yields nulls, never garbage.
    """

    def u8(pos: int) -> Column:
        return F.conv(F.hex(F.substring(data, pos, 1)), 16, 10).cast("long")

    def le16(pos: int) -> Column:
        return u8(pos) + 256 * u8(pos + 1)

    def le32(pos: int) -> Column:
        return le16(pos) + 65536 * le16(pos + 2)

    canonical = (
        (F.hex(F.substring(data, 1, 4)) == "52494646")  # RIFF
        & (F.hex(F.substring(data, 9, 8)) == "57415645666D7420")  # WAVEfmt
        & (F.hex(F.substring(data, 37, 4)) == "64617461")  # data
    )
    channels = le16(23)
    rate = le32(25)
    bits = le16(35)
    data_size = le32(41)
    byte_rate = rate * channels * (bits / F.lit(8.0))
    duration_ms = F.when(
        byte_rate > 0, (data_size * 1000 / byte_rate).cast("long")
    )
    null_l = F.lit(None).cast("long")
    return F.struct(
        F.when(canonical, channels).otherwise(null_l).alias("channels"),
        F.when(canonical, rate).otherwise(null_l).alias("sample_rate"),
        F.when(canonical, bits).otherwise(null_l).alias("bits"),
        F.when(canonical, duration_ms).otherwise(null_l).alias("duration_ms"),
    )


VIDEO_META_TYPE = T.StructType(
    [
        T.StructField("duration_ms", T.LongType()),
        T.StructField("n_tracks", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
    ]
)


def probe_video_meta(df: DataFrame, data_col: str, id_col: str) -> DataFrame:
    """Distributed ISO-BMFF metadata pass: (id, duration_ms, n_tracks,
    width, height) per row, nulls for non-MP4 bytes. The box walk is
    data-dependent (length-prefixed traversal), so unlike the
    PNG/WAV fixed-offset probes it runs in Python — Arrow-batched
    ``mapInPandas``, O(metadata bytes) per row, media payloads never
    parsed (``sources/mp4_boxes.py``)."""
    from gov_data_pipeline_spark.sources.mp4_boxes import mp4_metadata

    out_schema = T.StructType(
        [df.schema[id_col]] + list(VIDEO_META_TYPE.fields)
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf[id_col], pdf[data_col]):
                meta = mp4_metadata(bytes(blob)) if blob is not None else None
                rows.append(
                    {
                        id_col: rid,
                        "duration_ms": meta and meta["duration_ms"],
                        "n_tracks": meta and meta["n_tracks"],
                        "width": meta and meta["width"],
                        "height": meta and meta["height"],
                    }
                )
            yield pd.DataFrame(
                rows, columns=[id_col] + [f.name for f in VIDEO_META_TYPE]
            )

    return df.select(id_col, data_col).mapInPandas(mapper, schema=out_schema)


IMAGE_META_TYPE = T.StructType(
    [
        T.StructField("format", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
    ]
)


def probe_image_meta(df: DataFrame, data_col: str, id_col: str) -> DataFrame:
    """Distributed image-header pass: (id, format, width, height) per
    row, nulls for unrecognized bytes. The SCAN sibling of
    :func:`image_header_col`: JPEG dimensions live in an SOFn segment
    at a data-dependent offset (the marker walk skips APP/comment
    segments), so this runs the Python prober
    (``png_codec.image_info``) under Arrow-batched ``mapInPandas`` —
    O(header bytes) per row, entropy-coded payloads never parsed.
    PNG/GIF also resolve here (same prober), so a mixed-format column
    needs one pass; a pure PNG/GIF column should prefer the codegen'd
    column expression."""
    from gov_data_pipeline_spark.sources.png_codec import image_info

    out_schema = T.StructType(
        [df.schema[id_col]] + list(IMAGE_META_TYPE.fields)
    )

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for rid, blob in zip(pdf[id_col], pdf[data_col]):
                info = image_info(bytes(blob)) if blob is not None else None
                rows.append(
                    {
                        id_col: rid,
                        "format": info and info["format"],
                        "width": info and int(info["width"]),
                        "height": info and int(info["height"]),
                    }
                )
            yield pd.DataFrame(
                rows, columns=[id_col] + [f.name for f in IMAGE_META_TYPE]
            )

    return df.select(id_col, data_col).mapInPandas(mapper, schema=out_schema)
