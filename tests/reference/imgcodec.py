"""Per-byte GIF LZW loop — the reference for the vectorized
``kernel/imgcodec._gif_lzw_decode``."""

from __future__ import annotations


def gif_lzw_decode(min_code: int, data: bytes, max_pixels: int) -> bytes:
    """Decode one GIF LZW stream a byte at a time; raises the same
    ValueErrors, in the same order, as the vectorized decoder."""
    if not (2 <= min_code <= 11):
        raise ValueError("gif: bad LZW minimum code size")
    clear = 1 << min_code
    eoi = clear + 1
    out = bytearray()
    table: list[bytes] = []

    def reset():
        nonlocal table, width, next_code
        table = [bytes((i,)) for i in range(clear)] + [b"", b""]
        width = min_code + 1
        next_code = eoi + 1

    width = 0
    next_code = 0
    reset()
    acc = 0
    nbits = 0
    prev: bytes | None = None
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                reset()
                prev = None
                continue
            if code == eoi:
                return bytes(out)
            if code < len(table) and (code < clear or table[code]):
                entry = table[code]
            elif code == next_code and prev is not None:
                entry = prev + prev[:1]
            else:
                raise ValueError("gif: bad LZW code")
            out += entry
            if len(out) > max_pixels:
                raise ValueError("gif: pixel data exceeds descriptor")
            if prev is not None and next_code < 4096:
                table.append(prev + entry[:1])
                next_code += 1
                if next_code == (1 << width) and width < 12:
                    width += 1
            prev = entry
    return bytes(out)
