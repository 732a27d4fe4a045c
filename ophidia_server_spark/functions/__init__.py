"""Spark column-expression building blocks: array primitives, literals, sketches, hashing."""
