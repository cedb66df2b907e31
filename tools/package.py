"""Package bzzz_spark for `spark-submit --py-files`.

Produces dist/bzzz_spark.zip — a pure-Python zip importable straight
off the executors' PYTHONPATH (no compiled extensions, no data files),
plus prints the spark-submit line for the cluster build job.

Usage:
  python tools/package.py            # writes dist/bzzz_spark.zip
  python tools/package.py --check    # also import-tests the zip
"""

from __future__ import annotations

import os
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_zip(out: str) -> str:
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
        pkg = os.path.join(REPO, "bzzz_spark")
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for fn in sorted(files):
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                z.write(full, os.path.relpath(full, REPO))
    return out


def zip_modules(path: str) -> list[str]:
    """Dotted names of every module in the zip (packages by their own
    name), so the import check covers whatever the package holds."""
    with zipfile.ZipFile(path) as z:
        names = [n[: -len(".py")].replace("/", ".") for n in z.namelist()
                 if n.endswith(".py")]
    return sorted(n.removesuffix(".__init__") for n in names)


def import_all_code(path: str) -> str:
    """Python source that imports every module of the zip from the zip
    alone and then prints ``zip-import-ok``."""
    return (
        f"import importlib, sys; sys.path.insert(0, {path!r}); "
        f"[importlib.import_module(m) for m in {zip_modules(path)!r}]; "
        "print('zip-import-ok')"
    )


def check_zip(path: str) -> None:
    """Import the package from the zip alone (executor simulation)."""
    import subprocess

    env = dict(os.environ)
    env["PYTHONPATH"] = ""  # make sure the repo dir can't leak in
    out = subprocess.run(
        [sys.executable, "-c", import_all_code(path)],
        capture_output=True, text=True, cwd="/", env=env,
    )
    if "zip-import-ok" not in out.stdout:
        raise SystemExit(f"zip import failed:\n{out.stdout}\n{out.stderr}")
    print(out.stdout.strip())


def main() -> None:
    out = build_zip(os.path.join(REPO, "dist", "bzzz_spark.zip"))
    size = os.path.getsize(out)
    print(f"wrote {out} ({size/1024:.0f} KiB)")
    if "--check" in sys.argv:
        check_zip(out)
    print(
        "\nsubmit the cluster build with:\n"
        f"  spark-submit --py-files {out} \\\n"
        "    tools/submit_build.py \\\n"
        "    --input <transcripts table/parquet> --output <index dir> \\\n"
        "    [--segment-size 65536] [--chunks 64]"
    )


if __name__ == "__main__":
    main()
