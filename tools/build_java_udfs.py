"""Compile the JVM-side scoring kernels into nms-udfs.jar.

Run once (or let session.get_spark trigger it lazily): javac against
the installed Spark jars, then jar-up. Output lands in
name_matcher_spark/javaudf/nms-udfs.jar and is picked up by
get_spark via spark.jars.

Table regeneration (only needed on a CPython minor-version bump):

* NmsNormalizeText.CCC_RANGES — codepoints with canonical combining
  class != 0, straight from unicodedata::

      rs = [cp for cp in range(0x110000)
            if not 0xD800 <= cp <= 0xDFFF
            and unicodedata.combining(chr(cp))]

* NmsNormalizeText.CI_RANGES / CASED_RANGES — CPython's
  Case_Ignorable / Cased sets for the Final_Sigma context scan,
  probed empirically from str.lower() itself (CPython does not
  expose the properties; see handle_capital_sigma in
  Objects/unicodeobject.c)::

      p1 = (c + 'Σ').lower().endswith('ς')        # cased and not CI
      p2 = ('X' + c + 'Σ').lower().endswith('ς')  # CI, or p1
      ci[cp] = (not p1) and p2
      cased[cp] = p1                               # valid for non-CI

  Both scans in NmsNormalizeText.isFinalSigma only ever test
  cased() on non-CI codepoints, so the two tables fully determine
  CPython's sigma folding. Collapse each set to flat
  [lo, hi, ...] ranges and paste into the Java source.

* NmsLowerTable.KEYS/VALS — CPython's full per-codepoint lowercase
  map, so the kernels never call String.toLowerCase (Java 17 =
  Unicode 13 tables, CPython 3.11 = Unicode 14; e.g. U+10570
  Vithkuqi lowers in CPython but not in Java 17)::

      multi = set()
      for cp in range(0x110000):
          if 0xD800 <= cp <= 0xDFFF: continue
          l = chr(cp).lower()
          if l == chr(cp): continue
          if len(l) == 1:
              keys.append(cp); vals.append(ord(l))
          else:
              multi.add(cp)
      assert multi == {0x0130}, multi  # see note below

  The single len(l) != 1 mapping (U+0130 -> U+0069 U+0307) is
  special-cased at both call sites instead of tabled. The assert is
  NOT optional: if a future Unicode version adds another multi-char
  unconditional lowering, silently skipping it reintroduces the exact
  JVM/CPython blocking-key split this table exists to prevent — the
  new codepoint must be special-cased like U+0130 or the regeneration
  must fail.
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys
import tempfile
import warnings
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "name_matcher_spark" / "javaudf"
JAR = PKG / "nms-udfs.jar"


def spark_jars_classpath() -> str:
    import pyspark

    candidates = [
        os.environ.get("SPARK_HOME", ""),
        os.path.dirname(pyspark.__file__),
    ]
    for base in candidates:
        if base and glob.glob(os.path.join(base, "jars", "spark-sql*.jar")):
            return os.path.join(base, "jars", "*")
    raise RuntimeError("cannot locate Spark jars for javac classpath")


def build(force: bool = False) -> Path:
    """Return the kernel jar, recompiling it when a source is newer.

    The jar is tracked in git, and a checkout can leave its mtime older
    than the sources'. So when ``javac`` is absent, or the recompile
    fails (e.g. the Spark jars cannot be found), the existing
    jar is returned as is, with a warning for a failed compile. Without
    a jar to fall back on, or with ``force``, that raises instead.
    """
    sources = sorted(PKG.glob("*.java"))
    newest_src = max((s.stat().st_mtime for s in sources), default=0.0)
    fallback = JAR.exists() and not force
    if fallback and JAR.stat().st_mtime >= newest_src:
        return JAR
    javac = shutil.which("javac")
    if not javac:
        if fallback:
            return JAR
        raise RuntimeError(f"cannot build {JAR}: javac is not on PATH")
    try:
        _compile(javac, sources)
    except (OSError, RuntimeError, subprocess.CalledProcessError) as e:
        if not fallback:
            raise
        detail = getattr(e, "stderr", None) or e
        warnings.warn(f"rebuilding {JAR} failed, using the existing jar: {detail}")
    return JAR


def _compile(javac: str, sources: list[Path]) -> None:
    """javac + jar into a temp dir; JAR is only overwritten on success."""
    jar_tool = shutil.which("jar")
    with tempfile.TemporaryDirectory() as tmp:
        classes = os.path.join(tmp, "classes")
        out = os.path.join(tmp, JAR.name)
        subprocess.run(
            # The sources carry non-ASCII literals ('Ç', 'Ñ'); without
            # -encoding, javac 17 reads them in the locale's charset and
            # fails under a POSIX locale.
            [javac, "-encoding", "UTF-8", "-cp", spark_jars_classpath(), "-d", classes]
            + [str(s) for s in sources],
            check=True,
            capture_output=True,
            text=True,
        )
        if jar_tool:
            subprocess.run(
                [jar_tool, "cf", out, "-C", classes, "."],
                check=True,
                capture_output=True,
                text=True,
            )
        else:  # zip fallback — a jar IS a zip
            import zipfile

            with zipfile.ZipFile(out, "w") as zf:
                for root, _, files in os.walk(classes):
                    for f in files:
                        full = os.path.join(root, f)
                        zf.write(full, os.path.relpath(full, classes))
        shutil.copyfile(out, JAR)


if __name__ == "__main__":
    print(build(force="--force" in sys.argv))
