"""Per-bit canonical prefix-code walk — the reference for the
peek-LUT ``kernel/vp8l._Huffman.read``."""

from __future__ import annotations


def huffman_read_slow(lengths: list[int], br) -> int:
    """Read one symbol of the canonical code with ``lengths`` from
    ``br`` (a ``vp8l._BitReader``) one bit at a time.  Codes are
    assigned DEFLATE-style (symbol order within each length) and
    compared MSB-of-code-first.  ``lengths`` must already be a valid
    code (``_Huffman(lengths)`` accepted it)."""
    nz = [(ln, sym) for sym, ln in enumerate(lengths) if ln > 0]
    if len(nz) == 1:
        return nz[0][1]              # single-symbol code: zero bits
    max_len = max(ln for ln, _ in nz)
    bl_count = [0] * (max_len + 1)
    for ln, _ in nz:
        bl_count[ln] += 1
    code = 0
    next_code = [0] * (max_len + 2)
    for ln in range(1, max_len + 1):
        code = (code + bl_count[ln - 1]) << 1
        next_code[ln] = code
    table: dict[tuple[int, int], int] = {}
    for ln, sym in nz:
        table[(ln, next_code[ln])] = sym
        next_code[ln] += 1
    code = 0
    for ln in range(1, max_len + 1):
        code = (code << 1) | br.read(1)
        sym = table.get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("vp8l: bad prefix code word")
