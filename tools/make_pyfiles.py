"""Build the --py-files archive for spark-submit (deterministic zip).

Produces ``dist/mistral_ocr_pipeline_spark.zip`` (or the path given as the
one argument) containing the engine package.  Executors do not unpack it:
they put the archive itself on ``sys.path`` and zip-import the package from
it, so it holds sources only and every worker compiles them on import.
(A wheel built with setuptools works identically; the zip keeps this
container dependency-free.)

  python tools/make_pyfiles.py [OUT.zip]
"""

from __future__ import annotations

import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "mistral_ocr_pipeline_spark"
OUT = ROOT / "dist" / "mistral_ocr_pipeline_spark.zip"


def main(out: Path = OUT) -> None:
    out.parent.mkdir(exist_ok=True)
    files = sorted(
        p for p in PKG.rglob("*.py") if "__pycache__" not in p.parts
    )
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        for p in files:
            info = zipfile.ZipInfo(str(p.relative_to(ROOT)))  # fixed date → deterministic
            z.writestr(info, p.read_bytes())
    print(f"wrote {out} ({out.stat().st_size} bytes, {len(files)} files)")


if __name__ == "__main__":
    main(Path(sys.argv[1]) if len(sys.argv) > 1 else OUT)
