"""Pure-stdlib YUV4MPEG2 (.y4m) codec for the video frame-sampling kernel.

Same role as :mod:`.png` for images and :mod:`.wav` for audio: a real,
dependency-free decode path so the multimodal video kernel operates on
actual frame pixels, not payload hashes. Y4M is the standard uncompressed
planar-YUV interchange container (mjpegtools / ffmpeg ``-f yuv4mpeg``):
a text header line, then ``FRAME`` markers each followed by raw planes.
Compressed codecs (h264/vp9/...) need a real media library swapped into
the same seam.

All functions are driver/executor-side helpers for Arrow-batched kernels —
they never touch Spark themselves.
"""

from __future__ import annotations

import numpy as np

_MAGIC = b"YUV4MPEG2"

#: chroma plane size factor per colorspace tag prefix: (x_shift, y_shift),
#: i.e. each chroma plane is ceil(w>>xs) * ceil(h>>ys) bytes
_CHROMA_SHIFTS = {
    "C420": (1, 1),   # covers C420, C420jpeg, C420mpeg2, C420paldv
    "C422": (1, 0),
    "C444": (0, 0),
    "Cmono": None,    # no chroma planes
}


def _chroma_bytes(width: int, height: int, cspace: str) -> int:
    for prefix, shifts in _CHROMA_SHIFTS.items():
        if cspace.startswith(prefix):
            if shifts is None:
                return 0
            xs, ys = shifts
            return 2 * (-(-width // (1 << xs))) * (-(-height // (1 << ys)))
    raise ValueError(f"unsupported Y4M colorspace: {cspace}")


def decode_y4m(payload: bytes):
    """Decode a Y4M payload → ``(width, height, fps_num, fps_den, frames)``.

    ``frames`` is a list of ``(height, width)`` uint8 arrays holding each
    frame's luma (Y) plane — chroma planes are parsed (sized by the header
    colorspace) but skipped, since every downstream feature here is
    luma-based. Raises ``ValueError`` on anything that is not a well-formed
    Y4M stream (callers map that to empty/null output — corrupt media must
    not kill a 100-TB scan).
    """
    nl = payload.find(b"\n")
    if nl < 0 or not payload.startswith(_MAGIC):
        raise ValueError("not a YUV4MPEG2 stream")
    width = height = 0
    fps_num, fps_den = 30, 1
    cspace = "C420jpeg"  # the spec's default when no C tag is present
    for tok in payload[len(_MAGIC):nl].split(b" "):
        tok = tok.decode("ascii", "replace")
        if not tok:
            continue
        if tok[0] == "W":
            width = int(tok[1:])
        elif tok[0] == "H":
            height = int(tok[1:])
        elif tok[0] == "F":
            num, den = tok[1:].split(":")
            fps_num, fps_den = int(num), int(den)
        elif tok[0] == "C":
            cspace = tok
    if width <= 0 or height <= 0 or fps_num <= 0 or fps_den <= 0:
        raise ValueError("Y4M header missing/invalid W, H or F")

    y_bytes = width * height
    frame_bytes = y_bytes + _chroma_bytes(width, height, cspace)
    frames: list[np.ndarray] = []
    pos = nl + 1
    n = len(payload)
    while pos < n:
        fnl = payload.find(b"\n", pos)
        if fnl < 0 or not payload[pos:fnl].startswith(b"FRAME"):
            raise ValueError("malformed Y4M FRAME marker")
        data_start = fnl + 1
        if data_start + frame_bytes > n:
            raise ValueError("truncated Y4M frame data")
        y = np.frombuffer(payload[data_start:data_start + y_bytes],
                          dtype=np.uint8).reshape(height, width)
        frames.append(y)
        pos = data_start + frame_bytes
    return width, height, fps_num, fps_den, frames


def encode_y4m(frames, fps_num: int = 30, fps_den: int = 1,
               mono: bool = False) -> bytes:
    """Encode luma frames (``(h, w)`` uint8 arrays) as a Y4M payload.

    Chroma is written as neutral gray (0x80) C420 planes unless ``mono``
    (test aid — real chroma would come from a real color source).
    """
    frames = [np.asarray(f, dtype=np.uint8) for f in frames]
    if not frames:
        raise ValueError("encode_y4m needs at least one frame")
    height, width = frames[0].shape
    if mono:
        cspace, chroma = "Cmono", b""
    else:
        if width % 2 or height % 2:
            raise ValueError("C420 needs even dimensions (use mono=True)")
        cspace = "C420jpeg"
        chroma = b"\x80" * (2 * (width // 2) * (height // 2))
    out = [b"YUV4MPEG2 W%d H%d F%d:%d Ip A1:1 %s\n"
           % (width, height, fps_num, fps_den, cspace.encode())]
    for f in frames:
        if f.shape != (height, width):
            raise ValueError("all frames must share one dimension")
        out.append(b"FRAME\n")
        out.append(f.tobytes())
        out.append(chroma)
    return b"".join(out)
