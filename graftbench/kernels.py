"""Throughput of the package's pure-Python decode kernels on seeded inputs.

Each input is produced by an independent encoder (the package's own
encoders for AES, VP8L and PDF; pyarrow's codecs for zstd, snappy and lz4
frames) and every decode is checked to give back exactly what was encoded.
Throughput is output bytes per second of the median of several timed decodes.
"""

from __future__ import annotations

import random
import statistics
import time

_WORDS = b"spark batch stream window merge filter table value key row scan sort".split()


def _text(rng: random.Random, n: int) -> bytes:
    out = bytearray()
    while len(out) < n:
        out += rng.choice(_WORDS) + b" "
    return bytes(out[:n])


def _cases(rng: random.Random):
    """``(name, decode, encoded, expected)``; ``decode(encoded) == expected``."""
    import pyarrow as pa

    from etl_pipeline_old_spark.operators import aes, lz4, pdf, snappy, vp8l, zstd

    text = _text(rng, 128 * 1024)
    key, iv = rng.randbytes(16), rng.randbytes(16)
    plain = text[: 16 * 1024]
    px = [0xFF000000 | rng.getrandbits(24) for _ in range(64 * 64)]
    pages = [[_text(rng, 60).decode() for _ in range(50)] for _ in range(4)]
    codec = lambda c: pa.compress(text, codec=c, asbytes=True)  # noqa: E731
    return [
        ("aes_cbc_decrypt", lambda b: aes.cbc_decrypt(key, iv, b),
         aes.cbc_encrypt(key, iv, plain), plain),
        ("vp8l_decode", lambda b: vp8l.decode_webp_lossless(b)[2],
         vp8l.encode_webp_lossless(64, 64, px), px),
        ("zstd_decompress", zstd.decompress, codec("zstd"), text),
        ("snappy_decompress", snappy.decompress, codec("snappy"), text),
        ("lz4_decompress", lz4.decompress_frame, codec("lz4"), text),
        ("pdf_extract_text", pdf.extract_pdf_text,
         pdf.write_pdf_encrypted(pages, rev=4, compress=True), pages),
    ]


def _size(expected) -> int:
    if isinstance(expected, bytes):
        return len(expected)
    if expected and isinstance(expected[0], int):
        return 4 * len(expected)  # ARGB pixels
    return sum(len(line.encode()) for page in expected for line in page)


def measure(seed: int, reps: int = 5) -> tuple[dict[str, float], list[str]]:
    """``kernel.<name>.mb_per_s`` for every kernel, and the names of the
    kernels whose round trip did not give back the input."""
    rng = random.Random(seed)
    out: dict[str, float] = {}
    wrong: list[str] = []
    for name, decode, encoded, expected in _cases(rng):
        if decode(encoded) != expected:
            wrong.append(name)
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            decode(encoded)
            times.append(time.perf_counter() - t0)
        out[f"kernel.{name}.mb_per_s"] = _size(expected) / statistics.median(times) / 1e6
    return out, wrong
