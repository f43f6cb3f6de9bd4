"""Scratch directories that live as long as the process: the frames a
query builder returns may read its staged files lazily, after the
builder returns, so a directory is removed at process exit.
"""

import atexit
import shutil
import tempfile


def process_tmpdir(prefix: str) -> str:
    """A new directory under the temp dir, removed at process exit."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path
