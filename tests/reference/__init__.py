"""Reference implementations the parity tests compare against.

Each module holds the earlier, slower form of a package operator:
the pure-JVM expression chains the Arrow passes replaced, and the
per-byte / per-bit codec loops the vectorized decoders replaced.  The
package keeps one implementation per operator; these twins exist only
so a test can pin the fast path bit-for-bit against them.  Shared
constants (permutation coefficients, hash mixes, the fold-block
width) are imported from the package so both sides read one source.
"""
