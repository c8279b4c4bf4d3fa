"""Count the helper processes a command and its children start.

Usage: python3 tools/count_spawns.py -- cmd [args ...]

Without the native Hadoop library, Hadoop's local file system forks
``chmod`` for permissions, ``readlink`` for link status and Spark forks
``rm -rf`` to delete local directories. This runs ``cmd`` with a temporary
directory of shims put first on its ``PATH``: each shim appends its name to
a log, then ``exec``s the real binary found on the original ``PATH``. When
the command exits, one ``spawns <name> <count>`` line per shimmed name is
printed, and the tool exits with the command's exit code. Only the child's
environment changes; its processes run as they would without the shims,
one ``sh`` start per counted call slower.
"""

from __future__ import annotations

import os
import shlex
import shutil
import subprocess
import sys
import tempfile
from collections import Counter

NAMES = ("chmod", "readlink", "rm")


def _write_shim(shim_dir: str, name: str, real: str, log: str) -> None:
    path = os.path.join(shim_dir, name)
    with open(path, "w") as f:
        f.write(
            "#!/bin/sh\n"
            f"printf '%s\\n' {shlex.quote(name)} >> {shlex.quote(log)}\n"
            f'exec {shlex.quote(real)} "$@"\n'
        )
    os.chmod(path, 0o755)


def count_spawns(cmd: list[str]) -> tuple[int, Counter]:
    """Run ``cmd`` with counting shims for ``NAMES`` first on its ``PATH``;
    returns its exit code and the number of calls of each name."""
    env = dict(os.environ)
    path = env.get("PATH", os.defpath)
    with tempfile.TemporaryDirectory(prefix="count_spawns_") as tmp:
        shim_dir = os.path.join(tmp, "bin")
        os.mkdir(shim_dir)
        log = os.path.join(tmp, "calls.log")
        open(log, "w").close()
        for name in NAMES:
            real = shutil.which(name, path=path)
            if real is None:
                raise FileNotFoundError(f"{name} is not on PATH")
            _write_shim(shim_dir, name, real, log)
        env["PATH"] = shim_dir + os.pathsep + path
        code = subprocess.call(cmd, env=env)
        with open(log) as f:
            counts = Counter(line.strip() for line in f if line.strip())
    return code, Counter({n: counts[n] for n in NAMES})


def main(argv: list[str]) -> int:
    cmd = argv[1:] if argv[:1] == ["--"] else argv
    if not cmd:
        sys.exit(__doc__.split("\n\n")[1])
    code, counts = count_spawns(cmd)
    for name, n in counts.items():
        print(f"spawns {name} {n}")
    return code


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
