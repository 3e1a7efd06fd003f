"""tools/joblog_profile.py event-log parsing."""

from __future__ import annotations

import json

from tools.joblog_profile import parse_event_log, skipped_stages


def test_stage_without_times_counts_as_skipped():
    """A stage whose completion event has no submission/completion time
    never ran: it counts as skipped, not as an epoch-scale duration."""
    events = [
        {
            "Event": "SparkListenerJobStart",
            "Job ID": 0,
            "Submission Time": 1_700_000_000_000,
            "Stage Infos": [{"Stage ID": 0}, {"Stage ID": 1}],
            "Properties": {},
        },
        {
            "Event": "SparkListenerStageCompleted",
            "Stage Info": {
                "Stage ID": 0,
                "Number of Tasks": 4,
                "Submission Time": 1_700_000_000_010,
                "Completion Time": 1_700_000_000_250,
            },
        },
        {
            "Event": "SparkListenerStageCompleted",
            "Stage Info": {
                "Stage ID": 1,
                "Number of Tasks": 4,
                "Completion Time": 1_700_000_000_300,
            },
        },
    ]
    jobs, stages = parse_event_log(json.dumps(e) for e in events)
    assert stages[0]["ms"] == 240
    assert stages[1]["ms"] is None
    assert skipped_stages(jobs[0], stages) == 1
