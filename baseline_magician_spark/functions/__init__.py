"""Scalar function library: IP/CIDR arithmetic, ClickHouse-compat shims,
cross-engine deterministic hashing.

Most functions emit built-in Column expressions (JVM-side, inside
whole-stage codegen). The exception is the numeric-argument hash family:
``ch_compat`` renders cityHash64, sipHash64, xxHash64/32, the murmur
hashes, gccMurmurHash and kafkaMurmurHash over numeric arguments as one
Arrow UDF over the numpy kernels of ``hash_np``.

The package imports none of its modules; import the one you need
(``from baseline_magician_spark.functions.ch_compat import ch_fn``). A
Python worker that unpickles a kernel then loads only that kernel's
module, not the 6k-line ``ch_compat``.
"""
