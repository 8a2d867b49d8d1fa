"""Unified command-line surface — parity with the reference CLI
(py_image_dedup/cli.py:38-90: `deduplicate` / `analyse` / `daemon`
subcommands over one shared config surface).

    python jobs/cli.py deduplicate --input ... --output ...
    python jobs/cli.py analyse     --input ... --output ...
    python jobs/cli.py daemon      --watch ... --store ... --pairs ...
    python jobs/cli.py compact     --store ...

`analyse` is `deduplicate` stopped after the signature stage (phases 2-3
of the reference lifecycle, deduplicator.py:63-73); `daemon` launches the
Structured Streaming incremental job; `compact` is the store maintenance
job (drop superseded signature-log rows — the Iceberg rewrite_data_files
analog). Every subcommand accepts the same layered config: dataclass
defaults < --config-yaml < PY_IMAGE_DEDUP_SPARK_* environment variables <
explicit flags.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

USAGE = __doc__


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else list(argv)
    if not argv or argv[0] in ("-h", "--help"):
        print(USAGE)
        return 0
    cmd, rest = argv[0], argv[1:]
    if cmd == "deduplicate":
        from jobs import dedup_job

        return dedup_job.main(rest)
    if cmd == "analyse":
        from jobs import dedup_job

        # catch the '--stages=pairs' equals-form too: argparse is last-wins,
        # so a leaked flag would be silently overridden (ADVICE r2)
        if any(a == "--stages" or a.startswith("--stages=") for a in rest):
            print("error: analyse implies --stages signatures", file=sys.stderr)
            return 2
        return dedup_job.main(rest + ["--stages", "signatures"])
    if cmd == "daemon":
        from jobs import daemon_job

        return daemon_job.main(rest)
    if cmd == "compact":
        from jobs import daemon_job

        return daemon_job.compact_main(rest)
    print(f"error: unknown command {cmd!r} "
          "(expected deduplicate | analyse | daemon | compact)",
          file=sys.stderr)
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
