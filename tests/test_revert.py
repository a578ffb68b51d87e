"""Revert-tagging tests (J6): unit patterns + end-to-end flags."""

from __future__ import annotations

from widiff_spark.revert import check_revert, tag_reverted_edits


def ch(rid, ts, action, old, new, comment="", target=""):
    return {"revision_id": rid, "timestamp": ts, "action": action,
            "old_value": old, "new_value": new, "comment": comment,
            "change_target": target}


class TestCheckRevert:
    def test_direct_within_window(self):
        a = ch(1, "2024-01-01T00:00:00Z", "UPDATE", '"x"', '"y"')
        b = ch(2, "2024-01-02T00:00:00Z", "UPDATE", '"y"', '"x"')
        assert check_revert(a, b) == 1

    def test_direct_outside_window(self):
        a = ch(1, "2024-01-01T00:00:00Z", "UPDATE", '"x"', '"y"')
        b = ch(2, "2024-03-01T00:00:00Z", "UPDATE", '"y"', '"x"')
        assert check_revert(a, b) == 0

    def test_trailing_requires_restore_comment(self):
        a = ch(1, "2024-01-01T00:00:00Z", "UPDATE", '"x"', '"y"')
        b = ch(3, "2024-01-03T00:00:00Z", "UPDATE", '"z"', '"x"')
        assert check_revert(a, b) == 0
        b["comment"] = "Restored old value"
        assert check_revert(a, b) == 1
        b["comment"] = "rollback vandalism"
        assert check_revert(a, b) == 1

    def test_create_delete_pair(self):
        a = ch(1, "2024-01-01T00:00:00Z", "CREATE", "{}", '"v"')
        b = ch(2, "2024-01-02T00:00:00Z", "DELETE", '"v"', "{}")
        assert check_revert(a, b) == 1

    def test_empty_braces_collapse(self):
        # '{}' is the NULL sentinel: it blocks the direct/trailing patterns
        # (which need non-empty hashes) but *matches* the CREATE...DELETE
        # pattern, which keys on empty sides (feature_creation.py:905-929)
        a = ch(1, "2024-01-01T00:00:00Z", "UPDATE", "{}", '"y"')
        b = ch(2, "2024-01-02T00:00:00Z", "UPDATE", '"y"', "{}")
        assert check_revert(a, b) == 1  # create_case shape
        b2 = ch(2, "2024-01-02T00:00:00Z", "UPDATE", '"z"', "{}")
        assert check_revert(a, b2) == 0


class TestTagging:
    def _run(self, changes):
        return tag_reverted_edits([{"property_id": 100, "value_id": "s1", **c}
                                   for c in changes])

    def test_direct_pair_flags(self):
        tagged, stats = self._run([
            ch(1, "2024-01-01T00:00:00Z", "UPDATE", '"a"', '"b"'),
            ch(2, "2024-01-02T00:00:00Z", "UPDATE", '"b"', '"a"')])
        flags = {r["revision_id"]: (r["is_reverted"], r["reversion"])
                 for r in tagged}
        assert flags[1] == (1, 0) and flags[2] == (0, 1)
        assert tagged[0]["reversion_timestamp"] == "2024-01-02T00:00:00Z"
        assert tagged[0]["revision_id_reversion"] == 2
        assert stats["num_reverted_edits"] == 1
        assert stats["num_reversions"] == 1
        assert stats["num_reverted_edits_update"] == 1

    def test_rank_rows_inherit_value_flags(self):
        tagged, _ = self._run([
            ch(1, "2024-01-01T00:00:00Z", "CREATE", "{}", '"v"'),
            ch(1, "2024-01-01T00:00:00Z", "CREATE", "{}", '"normal"',
               target="rank"),
            ch(2, "2024-01-02T00:00:00Z", "DELETE", '"v"', "{}"),
            ch(2, "2024-01-02T00:00:00Z", "DELETE", '"normal"', "{}",
               target="rank")])
        flags = {(r["revision_id"], r["change_target"]):
                 (r["is_reverted"], r["reversion"]) for r in tagged}
        assert flags[(1, "")] == (1, 0)
        assert flags[(1, "rank")] == (1, 0)   # inherited
        assert flags[(2, "")] == (0, 1)
        assert flags[(2, "rank")] == (0, 1)   # inherited

    def test_rank_create_delete_never_paired_directly(self):
        tagged, stats = self._run([
            ch(1, "2024-01-01T00:00:00Z", "CREATE", "{}", '"normal"',
               target="rank"),
            ch(2, "2024-01-02T00:00:00Z", "DELETE", '"normal"', "{}",
               target="rank")])
        # no value rows exist, so rank rows inherit nothing
        assert all(r["is_reverted"] == 0 and r["reversion"] == 0 for r in tagged)
        assert stats["num_reverted_edits"] == 0


class TestEndToEnd:
    def test_direct_revert_q115(self, result):
        vc = result["value_change"]
        q = vc[(vc.entity_id == 115) & (vc.change_target == "")]
        flags = {int(r.revision_id): (int(r.is_reverted), int(r.reversion))
                 for _, r in q.iterrows()}
        assert flags[2401] == (1, 0)
        assert flags[2402] == (0, 1)
        st = result["entity_stats"]
        s = st[st.entity_id == 115].iloc[0]
        assert (s.num_reverted_edits, s.num_reversions,
                s.num_reverted_edits_update) == (1, 1, 1)

    def test_outside_window_not_tagged_q116(self, result):
        vc = result["value_change"]
        q = vc[vc.entity_id == 116]
        assert (q.is_reverted == 0).all() and (q.reversion == 0).all()

    def test_trailing_restore_q117(self, result):
        vc = result["value_change"]
        q = vc[(vc.entity_id == 117) & (vc.change_target == "")]
        flags = {int(r.revision_id): (int(r.is_reverted), int(r.reversion))
                 for _, r in q.iterrows()}
        assert flags[2601] == (1, 0)   # +1 -> +2: reverted by the restore
        assert flags[2602] == (0, 0)   # intermediate NOT marked (UPDATE-revert)
        assert flags[2603] == (0, 1)

    def test_create_delete_q118(self, result):
        vc = result["value_change"]
        q = vc[(vc.entity_id == 118) & (vc.change_target == "")
               & (vc.property_id == 31)]
        flags = {r.action: (int(r.is_reverted), int(r.reversion))
                 for _, r in q.iterrows()}
        assert flags["CREATE"] == (1, 0) and flags["DELETE"] == (0, 1)
        st = result["entity_stats"]
        s = st[st.entity_id == 118].iloc[0]
        assert s.num_reverted_edits_create == 1

    def test_restore_of_update_chain_marks_intermediates_q119(self, result):
        vc = result["value_change"]
        q = vc[(vc.entity_id == 119) & (vc.change_target == "")
               & (vc.property_id == 1082)]
        flags = {int(r.revision_id): (int(r.is_reverted), int(r.reversion))
                 for _, r in q.iterrows()}
        assert flags[2801] == (1, 0)   # U1: directly reverted
        assert flags[2802] == (1, 0)   # U2: intermediate, marked
        assert flags[2803] == (1, 0)   # DELETE: intermediate, marked
        assert flags[2804] == (0, 1)   # restore CREATE
        st = result["entity_stats"]
        s = st[st.entity_id == 119].iloc[0]
        assert (s.num_reverted_edits, s.num_reversions) == (3, 1)
        assert (s.num_reverted_edits_update, s.num_reverted_edits_delete) == (2, 1)
