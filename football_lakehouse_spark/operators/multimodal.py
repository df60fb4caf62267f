"""Multimodal columns (north-star surface, BASELINE.json): treat
image/audio/video as opaque ``binary`` columns bundled in a typed
struct with metadata; decode / feature-extraction runs as Arrow-batched
``mapInPandas`` — the only place Python touches rows, and it is batch-
vectorised by design.

The container has no native image/audio libraries (PIL/opencv/librosa),
so real container handling is done by :mod:`.codecs` — a pure
stdlib+numpy PNG/WAV codec. ``extract_features`` routes per-payload work
on the MIME type: ``image/png`` and ``audio/wav`` get a genuine decode
(chunk walking, scanline unfiltering, PCM parsing) with integer-space
features of the DECODED content; unknown mimes keep the deterministic
byte-histogram; corrupt payloads yield a NULL feature vector instead of
failing the job — at 100 TB a poison row must not kill the stage.

Worker shipping: Python workers cannot ``import football_lakehouse_spark``
(the package is not on their path when a driver harness runs from another
cwd), so the codecs module is registered for pickling BY VALUE with
``cloudpickle.register_pickle_by_value`` — the closure carries the whole
module; its own globals (struct/zlib/numpy) resolve by name on any
worker.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark import cloudpickle
from pyspark.sql import DataFrame, functions as F

from . import codecs as _codecs

cloudpickle.register_pickle_by_value(_codecs)

#: schema of the bundled multimodal asset column
ASSET_SCHEMA = (
    "STRUCT<payload: BINARY, mime: STRING, byte_len: BIGINT, sha: STRING>"
)

FEATURE_DIM = 8


def bundle_assets(df: DataFrame, payload: F.Column, mime: str) -> DataFrame:
    """Wrap a binary payload into the typed asset struct with metadata
    computed JVM-side (length in bytes, sha256)."""
    return df.withColumn(
        "asset",
        F.struct(
            payload.alias("payload"),
            F.lit(mime).alias("mime"),
            F.length(payload).cast("bigint").alias("byte_len"),
            F.sha2(payload, 256).alias("sha"),
        ),
    )


def decode_image(payload: bytes) -> dict:
    """Real PNG decode (8-bit grey/RGB, full scanline unfiltering) via
    the stdlib+numpy codec — see :func:`codecs.decode_png`. For formats
    the codec does not cover (JPEG etc.) this raises ``ValueError``;
    native libs (PIL/opencv) are absent in this container."""
    return _codecs.decode_png(payload)


def fake_features(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic stand-in for a decoder+encoder: a byte-histogram
    projection. Same signature and batch shape as a real extractor.

    Values are floor-quantised to micro-units in integer space
    (``count * 1e6 // total / 1e6``) so the result is bit-identical to
    any engine that reproduces the integer histogram — ``round()`` on a
    double is not portable across engines at ties.
    """
    buckets = [0] * dim
    for b in payload[:256]:
        buckets[b % dim] += 1
    total = max(1, sum(buckets))
    return [x * 1_000_000 // total / 1e6 for x in buckets]


def frame_sample(
    df: DataFrame, asset_col: str = "asset", frame_bytes: int = 64, every_nth: int = 4
) -> DataFrame:
    """Frame sampling for video-like payloads: split the binary into
    fixed-size frames JVM-side and keep every Nth — one row per sampled
    frame with (doc_id, frame_ix, frame) for downstream per-frame decode.

    A real container would be demuxed inside mapInPandas; the fixed-size
    split stands in for that (codecs absent here) while the Spark-side
    contract — explode to frame grain, deterministic frame index,
    binary column preserved — is exactly the production shape.
    """
    from pyspark.sql import functions as F

    # fail at CALL time, not mid-stage: every_nth=0 makes `ix % 0` NULL
    # (non-ANSI: silently zero frames for every doc) or a DIVIDE_BY_ZERO
    # deep in the job (ANSI); frame_bytes<1 likewise nulls n_frames into
    # silently-empty output (r12 review; the selection.py bucket_width
    # guard rationale)
    if frame_bytes < 1:
        raise ValueError(f"frame_bytes must be >= 1, got {frame_bytes}")
    if every_nth < 1:
        raise ValueError(f"every_nth must be >= 1, got {every_nth}")

    payload = F.col(f"{asset_col}.payload")
    n_frames = F.ceil(F.length(payload) / F.lit(frame_bytes)).cast("int")
    # n_frames == 0 would make sequence(0, -1) count DOWN to [0, -1] and
    # emit a phantom empty frame — empty payloads must yield no frames
    frames = F.when(
        n_frames > 0,
        F.transform(
            F.sequence(F.lit(0), n_frames - 1),
            lambda i: F.struct(
                i.alias("frame_ix"),
                payload.substr(i * frame_bytes + 1, F.lit(frame_bytes)).alias("frame"),
            ),
        ),
    ).otherwise(F.array())
    sampled = F.filter(frames, lambda fr: fr["frame_ix"] % every_nth == 0)
    return df.select(
        "doc_id", F.explode(sampled).alias("fr")
    ).select(
        "doc_id",
        F.col("fr.frame_ix").cast("bigint").alias("frame_ix"),
        F.col("fr.frame").alias("frame"),
        F.length(F.col("fr.frame")).cast("bigint").alias("frame_bytes"),
    )


def resize_png(payload: bytes, width: int, height: int) -> bytes:
    """Real PNG resize: decode → nearest-neighbour sample (vectorised
    numpy index grid) → re-encode. Nearest-neighbour keeps the integer
    pixel space exact (no interpolation rounding), so resized outputs
    stay oracle-able."""
    import numpy as np

    d = _codecs.decode_png(payload)
    ch = d["channels"]
    px = np.frombuffer(d["pixels"], dtype=np.uint8).reshape(
        d["height"], d["width"], ch
    )
    ys = (np.arange(height) * d["height"]) // height
    xs = (np.arange(width) * d["width"]) // width
    out = px[ys][:, xs]
    return _codecs.encode_png(out.tobytes(), width, height, channels=ch)


def extract_features(df: DataFrame, asset_col: str = "asset") -> DataFrame:
    """mapInPandas feature extraction with a MIME switch: Arrow batches
    in, (id, features) out.

    - ``image/png`` → real decode (:func:`codecs.decode_png`), features
      of the DECODED pixels:
      ``[1, width, height, channels, n_pixels, pixel_sum, pixel_min,
      pixel_max]``
    - ``audio/wav`` → real decode (:func:`codecs.decode_wav`), features
      of the PCM samples:
      ``[2, n_channels, sample_rate, n_samples, sample_sum, sample_min,
      sample_max, bits]``
    - anything else → the deterministic byte-histogram projection of the
      raw payload (the pre-codec behaviour, still the fallback shape).
    - corrupt/undecodable payloads → NULL feature vector (a poison row
      must not fail the stage at 100 TB; callers filter or audit NULLs).

    All decode features are exact integers represented as doubles — no
    division anywhere — so any engine that can reproduce the byte
    content agrees bit-for-bit (the DuckDB oracle recomputes them from
    the source bytes).
    """
    out_schema = "doc_id BIGINT, byte_len BIGINT, features ARRAY<DOUBLE>"
    dim = FEATURE_DIM
    codecs = _codecs  # closure-local ref → pickled BY VALUE (module-level note)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def feats_of(payload: bytes, mime: str) -> list[float] | None:
            if payload is None:
                return None  # NULL asset payload is a poison row too
            try:
                if mime == "image/png":
                    d = codecs.decode_png(payload)
                    px = np.frombuffer(d["pixels"], dtype=np.uint8)
                    return [
                        1.0,
                        float(d["width"]),
                        float(d["height"]),
                        float(d["channels"]),
                        float(px.size),
                        float(int(px.sum(dtype=np.int64))),
                        float(int(px.min())) if px.size else 0.0,
                        float(int(px.max())) if px.size else 0.0,
                    ]
                if mime == "audio/wav":
                    d = codecs.decode_wav(payload)
                    s = np.frombuffer(d["pcm"], dtype="<i2")
                    return [
                        2.0,
                        float(d["n_channels"]),
                        float(d["sample_rate"]),
                        float(s.size),
                        float(int(s.sum(dtype=np.int64))),
                        float(int(s.min())) if s.size else 0.0,
                        float(int(s.max())) if s.size else 0.0,
                        float(d["bits"]),
                    ]
                # unknown mime → byte-histogram fallback, INSIDE the
                # try: a non-bytes payload cell here raised an uncaught
                # TypeError and killed the stage (r12 review) — the
                # same poison-row class the branches above handle
                buckets = [0] * dim
                for b in payload[:256]:
                    buckets[b % dim] += 1
                total = max(1, sum(buckets))
                # floor-quantised micro-units: cross-engine bit-identical
                return [x * 1_000_000 // total / 1e6 for x in buckets]
            except (ValueError, TypeError):
                # ValueError: detectably-bad payload (codec contract).
                # TypeError: non-bytes payload cell (Arrow hands the
                # Python side whatever the column carries) — also a
                # poison row, and NOT a ValueError subclass, so without
                # this it would kill the whole stage at 100 TB.
                return None

        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": pdf["byte_len"],
                    "features": [
                        feats_of(p, m)
                        for p, m in zip(pdf["payload"], pdf["mime"])
                    ],
                }
            )

    flat = df.select(
        "doc_id",
        F.col(f"{asset_col}.payload").alias("payload"),
        F.col(f"{asset_col}.mime").alias("mime"),
        F.col(f"{asset_col}.byte_len").alias("byte_len"),
    )
    return flat.mapInPandas(batches, out_schema)


#: synthesized-asset geometry: 16×8 grey PNG / 128-sample PCM-16 WAV,
#: both derived from the first 128 payload source bytes (zero-padded)
SYNTH_UNITS = 128
SYNTH_W, SYNTH_H = 16, 8
SYNTH_RATE = 16000


def synthesize_assets(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Distributed producer of REAL container payloads from a text
    column — the test-data path for the codec pipeline (the fixtures
    ship no binary columns).

    Each doc's first ``SYNTH_UNITS`` utf-8 bytes (zero-padded) become,
    alternating on doc_id parity:

    - even → a 16×8 greyscale PNG whose pixels ARE those bytes, encoded
      with scanline filter ``doc_id % 5`` so every unfilter path
      (None/Sub/Up/Average/Paeth) is exercised under load;
    - odd → a mono 16 kHz PCM-16 WAV with ``sample[i] = (byte[i] - 128)
      * 256``.

    Deterministic and invertible, so a SQL oracle can recompute any
    decoded-content feature directly from the source text. Runs as one
    ``mapInPandas`` (Arrow batches); output is the standard asset struct
    with JVM-side metadata via :func:`bundle_assets`.
    """
    out_schema = "doc_id BIGINT, payload BINARY, mime STRING"
    codecs = _codecs
    n_units, w, h, rate = SYNTH_UNITS, SYNTH_W, SYNTH_H, SYNTH_RATE

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        def make(doc_id: int, text: str) -> tuple[bytes, str]:
            src = text.encode("utf-8")[:n_units].ljust(n_units, b"\x00")
            if doc_id % 2 == 0:
                return (
                    codecs.encode_png(src, w, h, channels=1,
                                      filter_type=doc_id % 5),
                    "image/png",
                )
            samples = (
                (np.frombuffer(src, dtype=np.uint8).astype(np.int32) - 128) * 256
            ).astype(np.int16)
            return codecs.encode_wav(samples.tolist(), rate, 1), "audio/wav"

        for pdf in it:
            made = [make(i, t) for i, t in zip(pdf["doc_id"], pdf["text"])]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [m[0] for m in made],
                    "mime": [m[1] for m in made],
                }
            )

    flat = df.select("doc_id", F.col(text_col).alias("text"))
    made = flat.mapInPandas(batches, out_schema)
    return made.withColumn(
        "asset",
        F.struct(
            F.col("payload").alias("payload"),
            F.col("mime").alias("mime"),
            F.length("payload").cast("bigint").alias("byte_len"),
            F.sha2("payload", 256).alias("sha"),
        ),
    ).select("doc_id", "asset")
