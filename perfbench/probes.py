"""Direct layer probes of the traced run: the `functions` media decoders
and the `sources` record codecs, timed on payloads made from the seed by
the repository's own public encoders (stdlib `wave` for WAV, which the
engine only decodes)."""

from __future__ import annotations

import io
import statistics
import time
import wave

import numpy as np

from dataflowjavasdk_spark.functions.jpeg import decode_jpeg, encode_jpeg
from dataflowjavasdk_spark.functions.multimodal import decode_wav
from dataflowjavasdk_spark.functions.video import (
    decode_avi_mjpeg, decode_gif, encode_avi_mjpeg, encode_gif)
from dataflowjavasdk_spark.sources.avro import read_container, write_container
from dataflowjavasdk_spark.sources.tfrecord import (
    decode_example, encode_example, frame_record, iter_records)
from dataflowjavasdk_spark.sources.warc import build_warc_record, parse_warc

import instrument as tr

PAYLOADS = 16
RECORDS = 2000


def _image(rng, h=64, w=64) -> np.ndarray:
    """Smooth Y'CbCr planes: a seeded gradient plus noise."""
    yy, xx = np.mgrid[0:h, 0:w]
    planes = [(a * yy + b * xx + rng.integers(0, 40, (h, w))) % 256
              for a, b in rng.integers(1, 4, (3, 2))]
    return np.stack(planes, axis=-1).astype(np.uint8)


def _wav(rng, rate=8000, seconds=0.5) -> bytes:
    samples = (rng.normal(0, 8000, int(rate * seconds))).clip(-32768, 32767)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wv:
        wv.setnchannels(1)
        wv.setsampwidth(2)
        wv.setframerate(rate)
        wv.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def _decode_ms(decode, payloads) -> float:
    times = []
    for p in payloads:
        t0 = time.perf_counter()
        decode(p)
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def _mb_s(fn, nbytes: int) -> float:
    t0 = time.perf_counter()
    fn()
    return nbytes / tr.MIB / (time.perf_counter() - t0)


def run(seed: int, tracer: tr.Tracer) -> dict:
    rng = np.random.default_rng(seed)
    palette = [tuple(int(c) for c in rng.integers(0, 256, 3)) for _ in range(16)]
    jpegs = [encode_jpeg(_image(rng), subsample="420") for _ in range(PAYLOADS)]
    gifs = [encode_gif([rng.integers(0, 16, (48, 48)).astype(np.uint8) for _ in range(4)],
                       palette) for _ in range(PAYLOADS)]
    avis = [encode_avi_mjpeg([encode_jpeg(_image(rng)) for _ in range(4)], 64, 64)
            for _ in range(PAYLOADS)]
    wavs = [_wav(rng) for _ in range(PAYLOADS)]

    out = {}
    with tracer.span("probe/functions"):
        out["functions.jpeg.decode_ms"] = _decode_ms(decode_jpeg, jpegs)
        out["functions.gif.decode_ms"] = _decode_ms(decode_gif, gifs)
        out["functions.mjpeg.decode_ms"] = _decode_ms(decode_avi_mjpeg, avis)
        out["functions.wav.decode_ms"] = _decode_ms(decode_wav, wavs)

    ids = rng.permutation(RECORDS)
    words = [" ".join(f"w{int(x)}" for x in rng.integers(0, 500, 12)) for _ in range(RECORDS)]
    schema = {"type": "record", "name": "doc", "fields": [
        {"name": "id", "type": "long"}, {"name": "text", "type": "string"},
        {"name": "score", "type": "double"}]}
    records = [{"id": int(i), "text": t, "score": float(i) / 7} for i, t in zip(ids, words)]
    features = [{"id": int(i), "text": t.encode(), "score": float(i) / 7}
                for i, t in zip(ids, words)]
    with tracer.span("probe/sources"):
        container = write_container(records, schema)
        out["sources.avro.read_mb_s"] = _mb_s(lambda: read_container(container), len(container))
        t0 = time.perf_counter()
        examples = [encode_example(f) for f in features]
        ex_bytes = sum(map(len, examples))
        out["sources.tfrecord.encode_mb_s"] = ex_bytes / tr.MIB / (time.perf_counter() - t0)
        out["sources.tfrecord.decode_mb_s"] = _mb_s(
            lambda: [decode_example(e) for e in examples], ex_bytes)
        blob = b"".join(frame_record(e) for e in examples)
        out["sources.tfrecord.iter_mb_s"] = _mb_s(lambda: list(iter_records(blob)), len(blob))
        warc = b"".join(build_warc_record(f"http://example.org/{int(i)}",
                                          f"<html><body><p>{t}</p></body></html>")
                        for i, t in zip(ids[:500], words))
        out["sources.warc.parse_mb_s"] = _mb_s(lambda: parse_warc(warc), len(warc))
    return out
