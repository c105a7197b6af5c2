"""Golden outcomes of the JPEG decoder (functions/jpeg.py).

A seeded set of streams — grey/RGB, 4:4:4/4:2:0/4:2:2, restart
intervals, q30–100, progressive, odd sizes — plus truncated and
corrupted copies of two of them. For each stream the test pins either
a digest of the decoded pixels or the class of the exception the
decoder raises. The digests were recorded from the bit-serial Huffman
decoder, so a faster entropy kernel must reproduce them exactly,
including where it gives up on a broken stream (`image._statistics_one`
falls back on exactly those exception classes)."""

import hashlib

import numpy as np

from computer_vision_foundations_spark.functions.jpeg import decode_jpeg, encode_jpeg

# (mode, h, w, quality, subsampling, restart_interval, progressive, content)
_CASES = [
    ("L", 8, 8, 100, "444", 0, False, "noise"),
    ("L", 17, 23, 30, "444", 0, False, "smooth"),
    ("L", 48, 48, 75, "444", 3, False, "smooth"),
    ("L", 31, 9, 100, "444", 1, False, "noise"),
    ("RGB", 48, 48, 90, "444", 0, False, "smooth"),
    ("RGB", 33, 41, 50, "420", 0, False, "smooth"),
    ("RGB", 21, 30, 100, "420", 2, False, "noise"),
    ("RGB", 40, 24, 60, "444", 5, False, "noise"),
    ("RGB", 19, 50, 85, "422", 0, False, "smooth"),
    ("L", 25, 19, 85, "444", 0, True, "smooth"),
    ("L", 16, 16, 100, "444", 0, True, "noise"),
    ("RGB", 35, 29, 95, "420", 0, True, "smooth"),
    ("RGB", 24, 40, 40, "444", 0, True, "noise"),
]


def _pixels(rng, mode: str, h: int, w: int, content: str) -> np.ndarray:
    shape = (h, w) if mode == "L" else (h, w, 3)
    if content == "noise":  # large AC magnitudes: codes longer than 9 bits
        return rng.integers(0, 256, shape, dtype=np.uint8)
    yy, xx = np.mgrid[0:h, 0:w]
    ramp = (xx * 7 + yy * 5).astype(np.float64)
    if mode == "RGB":
        ramp = np.stack([ramp, 255 - ramp, ramp * 0.5 + 40], axis=-1)
    px = ramp + rng.normal(0, 6, shape)
    return np.clip(np.round(px), 0, 255).astype(np.uint8)


def _streams() -> list[tuple[str, bytes]]:
    rng = np.random.default_rng(20260614)
    out = []
    for mode, h, w, q, sub, ri, prog, content in _CASES:
        blob = encode_jpeg(
            _pixels(rng, mode, h, w, content),
            quality=q,
            subsampling=sub,
            restart_interval=ri,
            progressive=prog,
        )
        out.append((f"{mode}{h}x{w}q{q}s{sub}r{ri}p{int(prog)}{content}", blob))
    # damaged copies: two baseline streams with restart markers and a
    # progressive one. Cutting the EOI and the last few scan bytes
    # probes exactly when the decoder refills its bit buffer.
    for name, blob in (out[3], out[7], out[12]):
        n = len(blob)
        sos = blob.find(b"\xff\xda")
        for cut in (n - 1, n - 2, n - 3, n - 4, n - 5, n - 8, (sos + n) // 2, sos + 20):
            out.append((f"{name}:cut{cut}", blob[:cut]))
        for at in (sos + 14, sos + 15 + (n - sos) // 3, n - 9):
            bad = bytearray(blob)
            bad[at] ^= 0x5A
            out.append((f"{name}:flip{at}", bytes(bad)))
    return out


def _outcome(blob: bytes) -> str:
    try:
        d = decode_jpeg(blob)
    except Exception as exc:  # the class is the recorded outcome
        return type(exc).__name__
    px = d["pixels"]
    h = hashlib.sha256(f"{d['mode']}{px.shape}{px.dtype}".encode() + px.tobytes())
    return h.hexdigest()[:16]


_GOLDEN = {
    "L8x8q100s444r0p0noise": "b357ad02967d43e0",
    "L17x23q30s444r0p0smooth": "3e63191876112498",
    "L48x48q75s444r3p0smooth": "b4f2a728bde30631",
    "L31x9q100s444r1p0noise": "da64a0c2c6baed8d",
    "RGB48x48q90s444r0p0smooth": "effa46d11b2677d8",
    "RGB33x41q50s420r0p0smooth": "7181319366517092",
    "RGB21x30q100s420r2p0noise": "5a9bd2659f46f282",
    "RGB40x24q60s444r5p0noise": "fb8efdea64ae01d0",
    "RGB19x50q85s422r0p0smooth": "8835d120eb73deea",
    "L25x19q85s444r0p1smooth": "2a65e49e530d9e14",
    "L16x16q100s444r0p1noise": "198b6f00d500832a",
    "RGB35x29q95s420r0p1smooth": "2bb3e7218c3eeb38",
    "RGB24x40q40s444r0p1noise": "27509c52f4b691ed",
    "L31x9q100s444r1p0noise:cut858": "da64a0c2c6baed8d",
    "L31x9q100s444r1p0noise:cut857": "ValueError",
    "L31x9q100s444r1p0noise:cut856": "ValueError",
    "L31x9q100s444r1p0noise:cut855": "ValueError",
    "L31x9q100s444r1p0noise:cut854": "ValueError",
    "L31x9q100s444r1p0noise:cut851": "ValueError",
    "L31x9q100s444r1p0noise:cut591": "ValueError",
    "L31x9q100s444r1p0noise:cut344": "ValueError",
    "L31x9q100s444r1p0noise:flip338": "04a22c84f2ed9d5b",
    "L31x9q100s444r1p0noise:flip517": "ee998fb043ec91f1",
    "L31x9q100s444r1p0noise:flip850": "34442e246c3ab39e",
    "RGB40x24q60s444r5p0noise:cut1566": "fb8efdea64ae01d0",
    "RGB40x24q60s444r5p0noise:cut1565": "ValueError",
    "RGB40x24q60s444r5p0noise:cut1564": "ValueError",
    "RGB40x24q60s444r5p0noise:cut1563": "ValueError",
    "RGB40x24q60s444r5p0noise:cut1562": "ValueError",
    "RGB40x24q60s444r5p0noise:cut1559": "ValueError",
    "RGB40x24q60s444r5p0noise:cut1091": "ValueError",
    "RGB40x24q60s444r5p0noise:cut635": "ValueError",
    "RGB40x24q60s444r5p0noise:flip629": "a41a67c855767275",
    "RGB40x24q60s444r5p0noise:flip947": "ca22c07c3865c19b",
    "RGB40x24q60s444r5p0noise:flip1558": "21060fabcf8f22f1",
    "RGB24x40q40s444r0p1noise:cut1462": "27509c52f4b691ed",
    "RGB24x40q40s444r0p1noise:cut1461": "ValueError",
    "RGB24x40q40s444r0p1noise:cut1460": "ValueError",
    "RGB24x40q40s444r0p1noise:cut1459": "ValueError",
    "RGB24x40q40s444r0p1noise:cut1458": "ValueError",
    "RGB24x40q40s444r0p1noise:cut1455": "ValueError",
    "RGB24x40q40s444r0p1noise:cut1036": "ValueError",
    "RGB24x40q40s444r0p1noise:cut629": "ValueError",
    "RGB24x40q40s444r0p1noise:flip623": "9aaed72fae1268cc",
    "RGB24x40q40s444r0p1noise:flip908": "ValueError",
    "RGB24x40q40s444r0p1noise:flip1454": "ValueError",
}


def test_decoder_outcomes_match_golden():
    got = {name: _outcome(blob) for name, blob in _streams()}
    assert got == _GOLDEN
