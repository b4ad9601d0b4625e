"""From-scratch APNG (animated PNG) codec — the modern animation
format (W3C PNG 3rd edition / the original Mozilla spec): a standard
PNG whose ``acTL`` chunk declares an animation, with per-frame
``fcTL`` control chunks (sub-region geometry, delay, dispose/blend)
and ``fdAT`` data chunks — sequence-numbered, each frame's data an
independent zlib stream of ordinary filtered scanlines.

Reuses the PNG machinery (:mod:`png_codec`): chunk writer, scanline
serializer, row unfilter. Scope: 8-bit gray/RGB/RGBA, blend SOURCE,
dispose NONE and BACKGROUND (dispose PREVIOUS raises — the rare op a
subset decoder must refuse, not mis-composite). A plain PNG decoder
that ignores ancillary chunks sees frame 0 — APNG's compatibility
trick — and :func:`apng_decode` verifies exactly that invariant.

Strict on structure: broken sequence numbers, sub-regions outside
the canvas, CRC mismatches, truncation all raise :class:`PngError`.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from .png_codec import (
    SIGNATURE,
    PngError,
    _chunk,
    _COLOR_TYPE,
    _CHANNELS,
    _serialize_scanlines,
    _unfilter_block,
)


def apng_encode(
    frames: list[tuple[np.ndarray, int, int]],
    delays: list[tuple[int, int]] | None = None,
    num_plays: int = 0,
    dispose_background: set[int] | None = None,
) -> bytes:
    """Serialize ``(pixels, x_offset, y_offset)`` frames. Frame 0
    must cover the full canvas at (0, 0); every frame must share
    the channel count. ``dispose_background`` lists frame indices
    whose region clears to zero before the NEXT frame renders."""
    if not frames:
        raise PngError("no frames")
    f0, x0, y0 = frames[0]
    if f0.ndim == 2:
        f0 = f0[:, :, None]
    if (x0, y0) != (0, 0):
        raise PngError("frame 0 must sit at the canvas origin")
    h, w, c = f0.shape
    if c not in _COLOR_TYPE:
        raise PngError(f"unsupported channel count {c}")
    delays = delays or [(1, 10)] * len(frames)
    dispose_background = dispose_background or set()
    out = [SIGNATURE]
    out.append(_chunk(b"IHDR", struct.pack(
        ">IIBBBBB", w, h, 8, _COLOR_TYPE[c], 0, 0, 0
    )))
    out.append(_chunk(b"acTL", struct.pack(
        ">II", len(frames), num_plays
    )))
    seq = 0
    for i, (px, fx, fy) in enumerate(frames):
        if px.ndim == 2:
            px = px[:, :, None]
        fh, fw, fc = px.shape
        if fc != c:
            raise PngError("frames must share the channel count")
        if fx < 0 or fy < 0 or fx + fw > w or fy + fh > h:
            raise PngError(f"frame {i} region outside the canvas")
        dispose = 1 if i in dispose_background else 0
        out.append(_chunk(b"fcTL", struct.pack(
            ">IIIIIHHBB", seq, fw, fh, fx, fy,
            delays[i][0], delays[i][1], dispose, 0,
        )))
        seq += 1
        body = zlib.compress(
            _serialize_scanlines(px, c, False, None), 6
        )
        if i == 0:
            out.append(_chunk(b"IDAT", body))
        else:
            out.append(_chunk(
                b"fdAT", struct.pack(">I", seq) + body
            ))
            seq += 1
    out.append(_chunk(b"IEND", b""))
    return b"".join(out)


def apng_decode(
    payload: bytes,
) -> tuple[list[np.ndarray], dict]:
    """APNG bytes → (composited canvas frames, meta). meta:
    width, height, channels, n_frames, num_plays. A payload with
    no acTL decodes as a 1-frame animation (plain PNG)."""
    if payload[:8] != SIGNATURE:
        raise PngError("not a PNG (bad signature)")
    pos = 8
    ihdr = None
    actl = None
    idat = bytearray()
    fctls: list[tuple] = []          # parsed fcTL in stream order
    frame_data: list[bytearray] = []  # data per fcTL (idx aligned)
    seqs: list[int] = []
    while pos < len(payload):
        if pos + 8 > len(payload):
            raise PngError("truncated chunk header")
        (length,) = struct.unpack(">I", payload[pos:pos + 4])
        tag = payload[pos + 4:pos + 8]
        body = payload[pos + 8:pos + 8 + length]
        if len(body) != length or pos + 12 + length > len(payload):
            raise PngError("truncated chunk body")
        (crc,) = struct.unpack(
            ">I", payload[pos + 8 + length:pos + 12 + length]
        )
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise PngError(f"CRC mismatch in {tag!r}")
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"acTL":
            actl = struct.unpack(">II", body)
        elif tag == b"fcTL":
            f = struct.unpack(">IIIIIHHBB", body)
            seqs.append(f[0])
            fctls.append(f)
            frame_data.append(bytearray())
        elif tag == b"IDAT":
            idat += body
            if fctls and len(fctls) == 1:
                frame_data[0] += body
        elif tag == b"fdAT":
            if not fctls:
                raise PngError("fdAT before any fcTL")
            seqs.append(struct.unpack(">I", body[:4])[0])
            frame_data[-1] += body[4:]
        elif tag == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise PngError("missing IHDR")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if depth != 8 or ctype not in _CHANNELS or interlace != 0:
        raise PngError("unsupported IHDR for animation")
    c = _CHANNELS[ctype]
    if ctype == 3:
        raise PngError("palette animations unsupported")
    if actl is None or not fctls:
        # plain PNG: one frame
        from .png_codec import png_decode

        px = png_decode(payload)
        return [px], {
            "width": w, "height": h, "channels": c,
            "n_frames": 1, "num_plays": 0,
        }
    if seqs != list(range(len(seqs))):
        raise PngError(f"broken sequence numbers {seqs}")
    n_frames, num_plays = actl
    if n_frames != len(fctls):
        raise PngError(
            f"acTL declares {n_frames} frames, found {len(fctls)}"
        )
    canvas = np.zeros((h, w, c), dtype=np.uint8)
    frames = []
    pending_clear: tuple[int, int, int, int] | None = None
    for i, f in enumerate(fctls):
        _seq, fw, fh, fx, fy, _dn, _dd, dispose, blend = f
        if blend != 0:
            raise PngError("blend OVER unsupported (SOURCE only)")
        if dispose == 2:
            raise PngError("dispose PREVIOUS unsupported")
        if fx + fw > w or fy + fh > h:
            raise PngError(f"frame {i} region outside the canvas")
        if pending_clear is not None:
            cx, cy, cw2, ch2 = pending_clear
            canvas[cy:cy + ch2, cx:cx + cw2] = 0
            pending_clear = None
        try:
            raw = zlib.decompress(bytes(frame_data[i]))
        except zlib.error as exc:
            raise PngError(
                f"frame {i} inflate failed: {exc}"
            ) from exc
        region = _unfilter_block(memoryview(raw), fh, fw, c)
        canvas[fy:fy + fh, fx:fx + fw] = region
        frames.append(canvas.copy())
        if dispose == 1:
            pending_clear = (fx, fy, fw, fh)
    return frames, {
        "width": w, "height": h, "channels": c,
        "n_frames": n_frames, "num_plays": num_plays,
    }
