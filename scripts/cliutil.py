"""Shared argv helpers for the diagnostic scripts.

One implementation of the sf_dir positional (previously copy-pasted
verbatim into four scripts, per ADVICE r8) so the next argv-handling
fix lands in exactly one place. Uses argparse so an unknown flag
errors out instead of being swallowed as the sf_dir positional, and
validates that the resolved sf_dir actually exists — a typo'd or
misplaced argument must die loudly, not sweep against a nonexistent
path.
"""

from __future__ import annotations

import argparse
import os


def sf_arg(default: str) -> str:
    """Parse ``[sf_dir]`` from argv with *default*, rejecting unknown
    flags and nonexistent directories."""
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default=default)
    sf_dir = ap.parse_args().sf_dir
    if not os.path.isdir(sf_dir):
        ap.error(f"sf_dir does not exist: {sf_dir!r}")
    return sf_dir


def require_dir(ap: argparse.ArgumentParser, sf_dir: str) -> str:
    """Validate an already-parsed sf_dir (for scripts with their own
    parser); exits via ``ap.error`` if the directory is missing."""
    if not os.path.isdir(sf_dir):
        ap.error(f"sf_dir does not exist: {sf_dir!r}")
    return sf_dir
