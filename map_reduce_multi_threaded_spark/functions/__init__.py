"""Scalar function library (column expressions only — JVM-side,
whole-stage-codegen friendly; no Python UDFs here)."""

from .text import ascii_lower, normalize_token, strip_punct, md5_long, md5_bucket

__all__ = ["ascii_lower", "normalize_token", "strip_punct", "md5_long", "md5_bucket"]
