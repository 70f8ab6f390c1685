"""Pure-stdlib WAV (RIFF/PCM) codec — the real audio path for E4.

Like PNG (png_codec.py), uncompressed WAV needs no media libraries: it
is a RIFF container with an ``fmt `` chunk describing PCM layout and a
``data`` chunk of interleaved samples. This module implements:

- decode: PCM (format 1) and IEEE-float (format 3) WAVs at 8-bit
  unsigned / 16-bit / 32-bit signed int / 32-bit float, any channel
  count; returns layout + per-file sample statistics without
  materializing a Python list per sample (struct/memoryview slicing).
- encode: 16-bit PCM, for fixture construction and round-trip tests.
- segment: time-sliced frame extraction (the audio form of video frame
  sampling — each segment is a VALID standalone WAV).

Compressed formats (MP3/AAC/OGG) genuinely need codec libraries and keep
the honest ``NotImplementedError`` path in operators/multimodal.py.

Executor-side usage: called from Arrow-batched ``mapInPandas`` —
embarrassingly parallel, shuffles nothing.
"""

from __future__ import annotations

import struct

_PCM_INT = 1
_IEEE_FLOAT = 3


def is_wav(data: bytes) -> bool:
    d = bytes(data[:12])
    return len(d) == 12 and d[:4] == b"RIFF" and d[8:12] == b"WAVE"


def _chunks(data: bytes):
    """Yield (id, payload) for each RIFF sub-chunk (word-aligned)."""
    pos = 12
    n = len(data)
    while pos + 8 <= n:
        cid = data[pos:pos + 4]
        (length,) = struct.unpack("<I", data[pos + 4:pos + 8])
        end = pos + 8 + length
        if end > n:
            raise ValueError(
                "WAV: truncated chunk " + cid.decode("latin1", "replace")
            )
        yield cid, data[pos + 8:end]
        pos = end + (length & 1)  # chunks are word-aligned


def decode_wav(data: bytes) -> dict:
    """Decode a WAV into layout + sample statistics.

    Returns ``{"channels", "sample_rate", "bits", "n_frames",
    "duration_sec", "rms", "peak"}`` where rms/peak are over samples
    normalized to [-1, 1]. Raises ``ValueError`` on non-PCM formats or
    unsupported sample widths — never wrong numbers.
    """
    data = bytes(data)
    if not is_wav(data):
        raise ValueError("WAV: bad RIFF/WAVE signature")
    fmt = None
    body = None
    for cid, payload in _chunks(data):
        if cid == b"fmt ":
            if len(payload) < 16:
                raise ValueError("WAV: short fmt chunk")
            fmt = struct.unpack("<HHIIHH", payload[:16])
        elif cid == b"data":
            body = payload
    if fmt is None or body is None:
        raise ValueError("WAV: missing fmt or data chunk")
    audio_format, channels, sample_rate, _byte_rate, _align, bits = fmt
    if channels == 0 or sample_rate == 0:
        raise ValueError("WAV: zero channels or sample rate")
    if audio_format == _PCM_INT and bits == 8:
        vals = memoryview(body)  # unsigned bytes
        norm = [(b - 128) / 128.0 for b in vals]
    elif audio_format == _PCM_INT and bits == 16:
        count = len(body) // 2
        vals = struct.unpack(f"<{count}h", body[:count * 2])
        norm = [v / 32768.0 for v in vals]
    elif audio_format == _PCM_INT and bits == 32:
        count = len(body) // 4
        vals = struct.unpack(f"<{count}i", body[:count * 4])
        norm = [v / 2147483648.0 for v in vals]
    elif audio_format == _IEEE_FLOAT and bits == 32:
        count = len(body) // 4
        norm = list(struct.unpack(f"<{count}f", body[:count * 4]))
    else:
        raise ValueError(
            f"WAV: unsupported format {audio_format}/{bits}-bit (PCM "
            "8/16/32 and float32 only; compressed audio needs codec "
            "libraries absent from this environment)"
        )
    n_frames = len(norm) // channels
    if not norm:
        raise ValueError("WAV: empty data chunk")
    rms = (sum(v * v for v in norm) / len(norm)) ** 0.5
    return {
        "channels": channels,
        "sample_rate": sample_rate,
        "bits": bits,
        "n_frames": n_frames,
        "duration_sec": n_frames / sample_rate,
        "rms": rms,
        "peak": max(abs(v) for v in norm),
    }


def encode_wav(
    samples: list[float], sample_rate: int = 16_000, channels: int = 1
) -> bytes:
    """Encode [-1, 1] float samples (interleaved if multichannel) as a
    16-bit PCM WAV."""
    if len(samples) % channels:
        raise ValueError("encode_wav: sample count not divisible by channels")
    import math

    # scale by 32768, the same factor decode_wav divides by, so a
    # round trip is off by at most half a step (one step at +1.0, which
    # clamps to 32767). Half-up quantization via floor(x + 0.5): unlike
    # Python's banker's round(), this is reproducible in any SQL engine
    # (floor(v*32768 + 0.5)), which the e4_wav_decode oracle relies on
    clamped = (max(-1.0, min(1.0, s)) for s in samples)
    body = struct.pack(
        f"<{len(samples)}h",
        *(min(32767, int(math.floor(s * 32768 + 0.5))) for s in clamped),
    )
    fmt = struct.pack(
        "<HHIIHH", _PCM_INT, channels, sample_rate,
        sample_rate * channels * 2, channels * 2, 16,
    )
    riff_len = 4 + (8 + len(fmt)) + (8 + len(body))
    return (
        b"RIFF" + struct.pack("<I", riff_len) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(body)) + body
    )


def segment_wav(data: bytes, n_segments: int) -> list[tuple[int, bytes]]:
    """Slice a PCM WAV into ``n_segments`` equal-duration standalone
    WAVs — the audio analogue of video frame sampling. Returns
    [(start_ms, wav_bytes), ...]. Only 16-bit PCM (the encode format)
    is segmented losslessly here; other layouts raise."""
    data = bytes(data)
    if not is_wav(data):
        raise ValueError("WAV: bad RIFF/WAVE signature")
    fmt = body = None
    for cid, payload in _chunks(data):
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", payload[:16])
        elif cid == b"data":
            body = payload
    if fmt is None or body is None:
        raise ValueError("WAV: missing fmt or data chunk")
    audio_format, channels, sample_rate, _r, _a, bits = fmt
    if audio_format != _PCM_INT or bits != 16:
        raise ValueError("segment_wav: 16-bit PCM only")
    frame_bytes = channels * 2
    n_frames = len(body) // frame_bytes
    if n_segments <= 0 or n_frames == 0:
        raise ValueError("segment_wav: nothing to segment")
    per = max(n_frames // n_segments, 1)
    out = []
    for i in range(n_segments):
        lo = min(i * per, n_frames) * frame_bytes
        hi = min((i + 1) * per, n_frames) * frame_bytes if i < n_segments - 1 \
            else n_frames * frame_bytes
        seg = body[lo:hi]
        if not seg:
            break
        count = len(seg) // 2
        floats = [v / 32768.0 for v in struct.unpack(f"<{count}h", seg)]
        out.append((
            int(round(lo / frame_bytes / sample_rate * 1000)),
            encode_wav(floats, sample_rate, channels),
        ))
    return out
