"""ISO BMFF (MP4, ISO/IEC 14496-12) container parsing — dependency-free.

Closes the last multimodal container gap: the box layer of MP4 needs
no ffmpeg — it's length-prefixed boxes and integer sample tables, the
same class of public-spec work as the QOI/GIF/JPEG codecs. What IS
real here: the full box walk (64-bit sizes, versioned boxes), movie /
track metadata (duration, dimensions, codec fourcc, handler), and
SAMPLE EXTRACTION — resolving stsc/stco/stsz chunk maps to the exact
byte range of any sample, so frame bytes come out of ``mdat`` for
real. Sample DECODE: codec-'jpeg' tracks (MJPEG-in-MP4) decode for
real through the repo's own baseline-JPEG decoder
(multimodal.sample_frames routes them to parse_jpeg — build_mp4 with
``codec=b"jpeg"`` writes them); H.264-family tracks are the one
remaining digest-and-route path (a codec library is genuinely
required and absent from the container), which is what a curation
pipeline does before handing frames to a GPU decode stage anyway.

Reference parity note: the reference pipeline stores media as opaque
URLs + MIME (F21 mime mapping, F5 bucket rewrite); this module is
part of the beyond-reference training-data extension set
(SURVEY.md §8 / multimodal).
"""

from __future__ import annotations

import struct

_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"dinf", b"edts"}


def _iter_boxes(raw: bytes, pos: int, end: int):
    """Yield (type, body_start, body_end) for sibling boxes in
    [pos, end). ValueError on truncated/overflowing sizes — framing
    errors surface, never a silently short parse."""
    while pos < end:
        if pos + 8 > end:
            raise ValueError("truncated box header")
        size = int.from_bytes(raw[pos:pos + 4], "big")
        btype = raw[pos + 4:pos + 8]
        body = pos + 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("truncated largesize box")
            size = int.from_bytes(raw[pos + 8:pos + 16], "big")
            body = pos + 16
        elif size == 0:  # box extends to end of file
            size = end - pos
        if size < body - pos or pos + size > end:
            raise ValueError("box size overflows container")
        yield btype, body, pos + size
        pos += size


def _find(raw: bytes, pos: int, end: int, btype: bytes):
    for t, b, e in _iter_boxes(raw, pos, end):
        if t == btype:
            return b, e
    return None


def _fullbox(raw: bytes, body: int) -> tuple[int, int]:
    """(version, body start after the version/flags word)."""
    return raw[body], body + 4


def parse_mp4(raw: bytes, with_tables: bool = True) -> dict:
    """Parse an ISO BMFF stream: brand, movie duration, and per-track
    metadata incl. the sample tables needed for extraction.

    Returns ``{brand, timescale, duration_sec, tracks: [{track_id,
    handler, codec, width, height, n_samples, sample_sizes,
    chunk_offsets, stsc, media_timescale, media_duration}]}``.
    ValueError on anything that does not follow the box framing,
    lacks the mandatory movie structure, or declares table counts
    larger than their boxes (the same never-a-raw-struct.error
    contract parse_jpeg keeps — codec fallbacks catch ValueError).
    ``with_tables=False`` skips materializing the per-sample
    size/chunk lists (empty lists returned) — the metadata-only path
    for decode-style consumers that need dims and n_samples, not
    byte ranges (a real video track can carry 10^5+ samples)."""
    try:
        return _parse_mp4_inner(raw, with_tables)
    except (IndexError, struct.error) as e:
        raise ValueError(f"malformed MP4: {e!r}") from e


def _parse_mp4_inner(raw: bytes, with_tables: bool) -> dict:
    n = len(raw)
    if n < 8 or raw[4:8] != b"ftyp":
        raise ValueError("not an ISO BMFF stream (no ftyp)")
    brand = raw[8:12].decode("ascii", "replace")
    moov = _find(raw, 0, n, b"moov")
    if moov is None:
        raise ValueError("missing moov box")
    mb, me = moov
    mvhd = _find(raw, mb, me, b"mvhd")
    if mvhd is None:
        raise ValueError("missing mvhd box")
    v, p = _fullbox(raw, mvhd[0])
    if v == 1:
        timescale = int.from_bytes(raw[p + 16:p + 20], "big")
        duration = int.from_bytes(raw[p + 20:p + 28], "big")
    else:
        timescale = int.from_bytes(raw[p + 8:p + 12], "big")
        duration = int.from_bytes(raw[p + 12:p + 16], "big")
    if timescale == 0:
        raise ValueError("mvhd timescale 0")
    tracks = []
    for t, b, e in _iter_boxes(raw, mb, me):
        if t == b"trak":
            tracks.append(_parse_trak(raw, b, e, with_tables))
    return {
        "brand": brand,
        "timescale": timescale,
        "duration_sec": duration / timescale,
        "tracks": tracks,
    }


def _parse_trak(raw: bytes, b: int, e: int, with_tables: bool = True) -> dict:
    tkhd = _find(raw, b, e, b"tkhd")
    if tkhd is None:
        raise ValueError("trak missing tkhd")
    v, p = _fullbox(raw, tkhd[0])
    track_id = int.from_bytes(
        raw[p + 16:p + 20] if v == 1 else raw[p + 8:p + 12], "big"
    )
    # width/height: 16.16 fixed point at the end of tkhd
    width = int.from_bytes(raw[tkhd[1] - 8:tkhd[1] - 6], "big")
    height = int.from_bytes(raw[tkhd[1] - 4:tkhd[1] - 2], "big")
    mdia = _find(raw, b, e, b"mdia")
    if mdia is None:
        raise ValueError("trak missing mdia")
    db, de = mdia
    mdhd = _find(raw, db, de, b"mdhd")
    if mdhd is None:
        raise ValueError("mdia missing mdhd")
    v, p = _fullbox(raw, mdhd[0])
    if v == 1:
        media_timescale = int.from_bytes(raw[p + 16:p + 20], "big")
        media_duration = int.from_bytes(raw[p + 20:p + 28], "big")
    else:
        media_timescale = int.from_bytes(raw[p + 8:p + 12], "big")
        media_duration = int.from_bytes(raw[p + 12:p + 16], "big")
    hdlr = _find(raw, db, de, b"hdlr")
    handler = ""
    if hdlr is not None:
        _, p = _fullbox(raw, hdlr[0])
        handler = raw[p + 4:p + 8].decode("ascii", "replace")
    minf = _find(raw, db, de, b"minf")
    if minf is None:
        raise ValueError("mdia missing minf")
    stbl = _find(raw, minf[0], minf[1], b"stbl")
    if stbl is None:
        raise ValueError("minf missing stbl")
    sb, se = stbl
    stsd = _find(raw, sb, se, b"stsd")
    codec = ""
    if stsd is not None:
        _, p = _fullbox(raw, stsd[0])
        if int.from_bytes(raw[p:p + 4], "big") > 0:
            codec = raw[p + 8:p + 12].decode("ascii", "replace")
    stsz = _find(raw, sb, se, b"stsz")
    if stsz is None:
        raise ValueError("stbl missing stsz")
    _, p = _fullbox(raw, stsz[0])
    uniform = int.from_bytes(raw[p:p + 4], "big")
    count = int.from_bytes(raw[p + 4:p + 8], "big")
    # count sanity BEFORE any allocation/unpack: a corrupt count must
    # raise ValueError, not struct.error or a gigabyte list
    if uniform:
        if uniform * count > len(raw):
            raise ValueError("stsz uniform sizes exceed file size")
    elif p + 8 + 4 * count > stsz[1]:
        raise ValueError("stsz count exceeds its box")
    if not with_tables:
        sizes: list[int] = []
    elif uniform:
        sizes = [uniform] * count
    else:
        sizes = list(
            struct.unpack(f">{count}I", raw[p + 8:p + 8 + 4 * count])
        )
    co = _find(raw, sb, se, b"stco")
    wide = False
    if co is None:
        co = _find(raw, sb, se, b"co64")
        wide = True
        if co is None:
            raise ValueError("stbl missing stco/co64")
    _, p = _fullbox(raw, co[0])
    nc = int.from_bytes(raw[p:p + 4], "big")
    unit = 8 if wide else 4
    if p + 4 + unit * nc > co[1]:
        raise ValueError("stco/co64 count exceeds its box")
    if with_tables:
        offsets = list(
            struct.unpack(
                f">{nc}{'Q' if wide else 'I'}", raw[p + 4:p + 4 + unit * nc]
            )
        )
    else:
        offsets = []
    stsc = _find(raw, sb, se, b"stsc")
    if stsc is None:
        raise ValueError("stbl missing stsc")
    _, p = _fullbox(raw, stsc[0])
    ne = int.from_bytes(raw[p:p + 4], "big")
    if p + 4 + 12 * ne > stsc[1]:
        raise ValueError("stsc count exceeds its box")
    stsc_entries = (
        [
            (
                int.from_bytes(raw[p + 4 + 12 * i:p + 8 + 12 * i], "big"),
                int.from_bytes(raw[p + 8 + 12 * i:p + 12 + 12 * i], "big"),
            )
            for i in range(ne)
        ]
        if with_tables
        else []
    )
    return {
        "track_id": track_id,
        "handler": handler,
        "codec": codec,
        "width": width,
        "height": height,
        "n_samples": count,
        "sample_sizes": sizes,
        "chunk_offsets": offsets,
        "stsc": stsc_entries,
        "media_timescale": media_timescale,
        "media_duration": media_duration,
    }


def sample_ranges(track: dict) -> list[tuple[int, int]]:
    """(file offset, size) of every sample, resolved through the
    stsc sample-to-chunk map — the real random-access path a frame
    extractor uses. Chunks past the last stsc entry inherit its
    samples_per_chunk (the spec's run-length rule)."""
    sizes = track["sample_sizes"]
    offsets = track["chunk_offsets"]
    stsc = track["stsc"]
    if not stsc or not offsets:
        if sizes:
            raise ValueError("samples with empty chunk map")
        return []
    out: list[tuple[int, int]] = []
    si = 0
    n = len(sizes)
    for ci, chunk_off in enumerate(offsets, start=1):
        # samples_per_chunk for this chunk: last stsc entry whose
        # first_chunk <= ci
        spc = next(
            (s for fc, s in reversed(stsc) if fc <= ci), stsc[0][1]
        )
        pos = chunk_off
        for _ in range(spc):
            if si >= n:
                return out
            out.append((pos, sizes[si]))
            pos += sizes[si]
            si += 1
    if si < n:
        raise ValueError("chunk map shorter than sample count")
    return out


def build_mp4(
    samples: list[bytes],
    width: int = 64,
    height: int = 48,
    fps: int = 30,
    codec: bytes = b"mp4v",
) -> bytes:
    """Minimal valid single-video-track MP4 (fixture/write side, and
    the documentation of exactly what parse_mp4 reads): ftyp + mdat +
    moov with a correct stbl — one chunk per TWO samples (so the stsc
    run-length rule is actually exercised on read-back), per-sample
    stsz, real stco offsets into mdat."""

    def box(btype: bytes, body: bytes) -> bytes:
        return (len(body) + 8).to_bytes(4, "big") + btype + body

    def fullbox(btype: bytes, version: int, body: bytes) -> bytes:
        return box(btype, bytes([version, 0, 0, 0]) + body)

    ftyp = box(b"ftyp", b"isom" + (0x200).to_bytes(4, "big") + b"isommp42")
    mdat_payload = b"".join(samples)
    mdat = box(b"mdat", mdat_payload)
    mdat_data_off = len(ftyp) + 8
    n = len(samples)
    duration = n  # 1 tick per sample at media timescale = fps

    # chunks of 2 samples: offsets derived from cumulative sizes
    chunk_offsets = []
    pos = mdat_data_off
    for i, s in enumerate(samples):
        if i % 2 == 0:
            chunk_offsets.append(pos)
        pos += len(s)

    stsd_entry = (
        codec
        + b"\x00" * 6 + (1).to_bytes(2, "big")  # reserved + dref index
        + b"\x00" * 16
        + width.to_bytes(2, "big") + height.to_bytes(2, "big")
        + (0x480000).to_bytes(4, "big") * 2  # 72 dpi x/y
        + b"\x00" * 4 + (1).to_bytes(2, "big")
        + b"\x00" * 32
        + (0x18).to_bytes(2, "big") + (0xFFFF).to_bytes(2, "big")
    )
    stsd = fullbox(
        b"stsd", 0, (1).to_bytes(4, "big")
        + (len(stsd_entry) + 8).to_bytes(4, "big") + stsd_entry
    )
    stts = fullbox(
        b"stts", 0, (1).to_bytes(4, "big")
        + n.to_bytes(4, "big") + (1).to_bytes(4, "big")
    )
    stsc = fullbox(
        b"stsc", 0, (1).to_bytes(4, "big")
        + (1).to_bytes(4, "big") + (2).to_bytes(4, "big")
        + (1).to_bytes(4, "big")
    )
    stsz = fullbox(
        b"stsz", 0, (0).to_bytes(4, "big") + n.to_bytes(4, "big")
        + b"".join(len(s).to_bytes(4, "big") for s in samples)
    )
    stco = fullbox(
        b"stco", 0, len(chunk_offsets).to_bytes(4, "big")
        + b"".join(o.to_bytes(4, "big") for o in chunk_offsets)
    )
    stbl = box(b"stbl", stsd + stts + stsc + stsz + stco)
    # one self-contained 'url ' entry (version 0, flags 0x000001)
    url_entry = box(b"url ", b"\x00\x00\x00\x01")
    dref = fullbox(b"dref", 0, (1).to_bytes(4, "big") + url_entry)
    dinf = box(b"dinf", dref)
    vmhd = fullbox(b"vmhd", 0, b"\x00" * 8)
    minf = box(b"minf", vmhd + dinf + stbl)
    hdlr = fullbox(
        b"hdlr", 0, b"\x00" * 4 + b"vide" + b"\x00" * 12 + b"spark\x00"
    )
    mdhd = fullbox(
        b"mdhd", 0, (0).to_bytes(8, "big") + fps.to_bytes(4, "big")
        + duration.to_bytes(4, "big") + b"\x55\xc4\x00\x00"
    )
    mdia = box(b"mdia", mdhd + hdlr + minf)
    tkhd = fullbox(
        b"tkhd", 0, (0).to_bytes(8, "big") + (1).to_bytes(4, "big")
        + b"\x00" * 4 + duration.to_bytes(4, "big") + b"\x00" * 8
        + b"\x00" * 8
        + b"\x00\x01\x00\x00\x00\x00\x00\x00\x00\x00\x00\x00"
        + b"\x00\x00\x00\x00\x00\x01\x00\x00\x00\x00\x00\x00"
        + b"\x00\x00\x00\x00\x00\x00\x00\x00\x40\x00\x00\x00"
        + (width << 16).to_bytes(4, "big") + (height << 16).to_bytes(4, "big")
    )
    trak = box(b"trak", tkhd + mdia)
    mvhd = fullbox(
        b"mvhd", 0, (0).to_bytes(8, "big") + (1000).to_bytes(4, "big")
        + (n * 1000 // fps).to_bytes(4, "big")
        + (0x00010000).to_bytes(4, "big") + (0x0100).to_bytes(2, "big")
        + b"\x00" * 10
        + b"\x00\x01\x00\x00\x00\x00\x00\x00\x00\x00\x00\x00"
        + b"\x00\x00\x00\x00\x00\x01\x00\x00\x00\x00\x00\x00"
        + b"\x00\x00\x00\x00\x00\x00\x00\x00\x40\x00\x00\x00"
        + b"\x00" * 24 + (2).to_bytes(4, "big")
    )
    moov = box(b"moov", mvhd + trak)
    return ftyp + mdat + moov
