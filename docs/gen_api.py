"""Generate docs/API.md: the query catalog with file:line links.

Maps every ``queries()`` entry of the driver contract to its wrapper
location and the engine functions it exercises (discovered by scanning
the wrapper source for names defined in the package modules). Run from
the repo root:

    python docs/gen_api.py > docs/API.md
"""
from __future__ import annotations

import importlib
import inspect
import io
import pkgutil
import sys


def module_functions() -> dict[str, str]:
    """name -> 'tree/mod.py:line' for every public function/class."""
    out: dict[str, str] = {}
    for tree in ["operators", "functions", "sources", "streaming", "plans"]:
        sub = importlib.import_module(f"dataeng_azure_spotify_spark.{tree}")
        for info in pkgutil.iter_modules(sub.__path__):
            mm = importlib.import_module(
                f"dataeng_azure_spotify_spark.{tree}.{info.name}"
            )
            for name, fn in vars(mm).items():
                if name.startswith("_"):
                    continue
                if (
                    (inspect.isfunction(fn) or inspect.isclass(fn))
                    and fn.__module__ == mm.__name__
                ):
                    try:
                        line = inspect.getsourcelines(fn)[1]
                    except OSError:
                        continue
                    out[name] = f"`{tree}/{info.name}.py:{line}`"
    return out


def main() -> None:
    sys.path.insert(0, ".")
    import __spark_entry__ as entry

    qs = entry.queries()
    funcs = module_functions()

    rows = []
    for qname, fn in qs.items():
        try:
            line = inspect.getsourcelines(fn)[1]
        except (OSError, TypeError):
            line = 0
        # co_names = names the compiled body actually references —
        # docstrings/comments can't contribute (a regex source scan
        # credited write_zordered to zorder_code off a docstring mention)
        names = set(getattr(fn, "__code__", None).co_names if callable(fn) else [])
        called = sorted(names & set(funcs))
        impl = ", ".join(f"{c} ({funcs[c]})" for c in called) or "inline DataFrame/SQL"
        rows.append((qname, f"`__spark_entry__.py:{line}`", impl))

    out = io.StringIO()
    out.write("# Query catalog\n\n")
    out.write(
        "Every `queries()` entry of the driver contract, where it lives and\n"
        "which engine functions it exercises. Every entry has a DuckDB SQL\n"
        "twin in `oracle_sql()`. Generated from the code — regenerate with\n"
        "`python docs/gen_api.py > docs/API.md` after adding a query. Order\n"
        "matches `queries()` (the first 50 are the driver's per-round\n"
        "correctness window).\n\n"
    )
    out.write(f"{len(rows)} queries.\n\n")
    out.write("| # | query | entry | engine functions |\n|---|---|---|---|\n")
    for i, r in enumerate(rows, 1):
        out.write(f"| {i} | `{r[0]}` | {r[1]} | {r[2]} |\n")
    sys.stdout.write(out.getvalue())


if __name__ == "__main__":
    main()
