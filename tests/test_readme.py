"""The README Quickstart must actually run: extract the first
```python fence from README.md and exec it verbatim, then check the
detection events and the promoted manifest it promises."""

import json
import os
import re


def test_readme_quickstart_executes(spark):
    readme = open(os.path.join(os.path.dirname(__file__), "..", "README.md")).read()
    (snippet,) = re.findall(r"```python\n(.*?)```", readme, re.S)[:1]
    ns: dict = {}
    exec(compile(snippet, "README.md", "exec"), ns)  # noqa: S102

    q = ns["q"]
    assert not q.isActive  # availableNow run completed
    (p8,) = spark.read.parquet(f"{ns['workdir']}/topics/fire-detections").limit(1).collect()
    assert set(json.loads(p8["value"])) == {
        "video_id", "frame_number", "timestamp", "processing_timestamp",
        "has_fire", "fire_probability", "detections", "frame_metadata",
    }
    # the gap video closes a session: its manifest is promoted
    media = f"{ns['workdir']}/media"
    (promoted,) = [f for f in os.listdir(media) if f.endswith(".manifest")]
    assert re.fullmatch(r"gapvid_with_heatmaps-\d{12}\.manifest", promoted)
    lines = open(os.path.join(media, promoted)).readlines()
    assert lines and all("\t" in l for l in lines)
