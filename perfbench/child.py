"""One fresh-process run of the curation CLI (``cli.main``).

    python3 perfbench/child.py RESULT_JSON SPAWN_TS [--trace DIR TRUTH_JSON] -- CLI_ARGS...

``SPAWN_TS`` is the ``time.time()`` at which the parent started this
process. Written to ``RESULT_JSON``:

- untraced: ``setup_s`` (spawn -> imports + ``get_spark`` +
  ``load_recipe`` done), ``cli_s`` (wall of ``cli.main``), ``wall_s``
  (spawn -> ``cli.main`` returned) and ``rc``;
- ``--trace``: the spans of ``spans.py`` (event log under ``DIR``), plus
  ``rc`` and ``wall_s`` (spawn -> ``cli.main`` returned).
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> int:
    result_path, spawn = sys.argv[1], float(sys.argv[2])
    rest = sys.argv[3:]
    sep = rest.index("--")
    opts, cli_args = rest[:sep], rest[sep + 1 :]
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

    if opts and opts[0] == "--trace":
        import spans

        with open(opts[2]) as fh:
            near_dups = json.load(fh).get("near_dups", [])
        rec = spans.Recorder(spawn)
        with rec.span("setup.imports"):
            from datacurator_jl_spark import cli

            spans.install(rec, opts[1], near_dups)
        with rec.span("cli.main"):
            rc = cli.main(cli_args)
        rec.dump(result_path, rc=rc, wall_s=time.time() - spawn)
        return 0

    from datacurator_jl_spark import cli, engine, sinks  # noqa: F401
    from datacurator_jl_spark.recipe import load_recipe
    from datacurator_jl_spark.session import get_spark
    from datacurator_jl_spark.sources import tables  # noqa: F401

    args = dict(zip(cli_args[::2], cli_args[1::2]))
    get_spark("datacurator-cli", cores=int(args["--cores"]))
    load_recipe(args["-r"])
    setup_s = time.time() - spawn
    t = time.perf_counter()
    rc = cli.main(cli_args)
    cli_s = time.perf_counter() - t
    with open(result_path, "w") as fh:
        json.dump({"setup_s": setup_s, "cli_s": cli_s, "wall_s": time.time() - spawn, "rc": rc}, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
