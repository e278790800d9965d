"""Event-grammar vocabulary of the SWTOR combat log.

These numeric effect ids are the public vocabulary of the log format
(cf. reference goldo_mappings.py:3-19). The reference matches them by
*substring containment* on the raw bracket-delimited fields, never by
equality (reference main.py:315-327); we preserve that exactly.
"""

# mitigation ids (appear inside the amount field)
MISS = "{836045448945502}"
ABSORB = "{836045448945511}"
DODGE = "{836045448945505}"
DEFLECT = "{836045448945508}"
PARRY = "{836045448945503}"
RESIST = "{836045448945507}"
SHIELD = "{836045448945509}"  # printed as "-shield" (2017) / "-glance" (2012)
NO_DAMAGE = "{836045448945506}"  # printed as "-immune"

# effect ids (appear inside the effect field)
ENTER_COMBAT = "{836045448945489}"
LEAVE_COMBAT = "{836045448945490}"
DEATH = "{836045448945493}"
DAMAGE = "{836045448945501}"  # same id for done and received
HEAL = "{836045448945500}"
FORCE_ARMOR = "{812736661422080}"  # healer bubble (absorb attribution)
REVIVE = "{810619242545152}"  # heals cast with this skill are excluded

PLAYER_TAG = "@"

# the six ']'-delimited raw fields of a log line (reference main.py:33)
RAW_FIELDS = ("time_raw", "src_raw", "tgt_raw", "skill_raw", "effect_raw", "amount_raw")
