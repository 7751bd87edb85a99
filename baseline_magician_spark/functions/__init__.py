"""Scalar function library: IP/CIDR arithmetic, ClickHouse-compat shims,
cross-engine deterministic hashing.

Most functions emit built-in Column expressions (JVM-side, inside
whole-stage codegen). The exception is the byte-exact CH hash family:
``ch_compat`` renders every call of cityHash64, URLHash, intHash64/32,
sipHash64, xxHash64/32, the murmur hashes, gccMurmurHash and
kafkaMurmurHash as one Arrow UDF over ``hash_np.hash_arrow`` (numpy
kernels for numeric arguments, the pure-Python models of ``cityhash``,
``xxhash``, ``siphash``, ``murmur`` and ``murmur3_128`` for the rest).

The package imports none of its modules; import the one you need
(``from baseline_magician_spark.functions.ch_compat import ch_fn``). A
Python worker that unpickles a kernel then loads only that kernel's
module (and, for a string hash argument, its model module), not the
5k-line ``ch_compat``.
"""
