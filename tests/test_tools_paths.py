"""The kept tools find their checkout from `__file__`, so a second
checkout (a parent commit for an A/B, say) imports its own
railgun_spark rather than whichever checkout a fixed path names."""

from __future__ import annotations

import os
import re

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


def test_tools_put_no_absolute_path_on_sys_path():
    literal = re.compile(r"sys\.path\.(?:insert|append)\([^)]*[\"']/")
    offenders = []
    for name in sorted(os.listdir(TOOLS)):
        if name.endswith(".py"):
            with open(os.path.join(TOOLS, name)) as f:
                if literal.search(f.read()):
                    offenders.append(name)
    assert offenders == []
