"""``tools/count_spawns.py`` counts the shimmed binaries a command starts."""

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(_REPO, "tools"))

from count_spawns import NAMES, count_spawns, main  # noqa: E402


def test_counts_nothing_for_a_command_that_starts_nothing():
    code, counts = count_spawns(["true"])
    assert code == 0
    assert counts == {name: 0 for name in NAMES}


def test_counts_one_readlink_and_runs_the_real_binary(capfd):
    code, counts = count_spawns(["readlink", "-f", "."])
    assert code == 0
    assert counts == {"chmod": 0, "readlink": 1, "rm": 0}
    # the shim exec'd the real readlink, whose output reached the terminal
    assert capfd.readouterr().out.strip() == os.path.realpath(".")


def test_main_prints_counts_and_passes_the_exit_code(capsys):
    assert main(["--", "sh", "-c", "readlink -f . >/dev/null; readlink -f /; exit 3"]) == 3
    lines = capsys.readouterr().out.splitlines()
    assert lines[-3:] == ["spawns chmod 0", "spawns readlink 2", "spawns rm 0"]
