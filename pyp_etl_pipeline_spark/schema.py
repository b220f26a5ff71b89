"""Canonical member schema, offering rules, thresholds, and keyword tables.

These are the *semantic data tables* of the reference application,
re-expressed as plain Python data for the Spark engine:

- canonical field aliases: reference ``app/etl.py:54-135`` (MEMBER_SCHEMA_FIELDS)
- required / important columns: reference ``app/etl.py:539-556``, ``:1029-1047``
- match thresholds & penalty config: reference ``app/etl.py:40-51``
- offering derivation rules: reference ``app/etl.py:234-307`` (field -> title/uid)
- dietary terms: reference ``app/etl.py:734-738``
- semantic category keywords & problematic pairs: reference ``app/routes.py:129-177``
- sentinel null tokens: reference ``app/etl.py:141-158``
- capital-case stopwords: reference ``app/etl.py:855-860``
"""

from __future__ import annotations

# --- thresholds (reference app/etl.py:40-51; env-overridable there, constants here) ---
FUZZY_MATCH_THRESHOLD = 85.0
AUTO_RESOLVE_THRESHOLD = 97.0
AUTO_REJECT_THRESHOLD = 50.0

LENGTH_PENALTY_MULTIPLIER = 30.0
WORD_COUNT_PENALTY_MULTIPLIER = 10.0
WORD_COUNT_PENALTY_CAP = 25.0
DIETARY_TERMS_PENALTY = 20.0
SPECIAL_CHARS_PENALTY = 15.0
NUMBERS_PENALTY = 15.0
ALGORITHM_DISAGREEMENT_PENALTY = 15.0
ALGORITHM_DISAGREEMENT_THRESHOLD = 20.0

HEADER_MATCH_THRESHOLD = 60.0  # reference app/etl.py:494-510

# --- sentinel nulls (reference app/etl.py:141-158) ---
SENTINEL_NULLS = ("", "null", "none", "n/a", "na", "nan")

# --- capital-case stopwords (reference app/etl.py:855) ---
CAPITAL_CASE_STOPWORDS = ("and", "or", "of", "the", "in", "on", "at", "to", "for", "with", "by")

# --- dietary terms for penalty 3 (reference app/etl.py:734) ---
DIETARY_TERMS = ("gluten-free", "organic", "natural", "raw", "extra virgin", "whole grain")

# --- special chars counted by penalty 4 (reference app/etl.py:742) ---
SPECIAL_CHARS = "!@#$%^&*()"

# --- canonical member schema: field -> header aliases (reference app/etl.py:54-135) ---
MEMBER_SCHEMA_FIELDS: dict[str, list[str]] = {
    "memberID": ["memberid", "member_id", "uid", "id", "member uid"],
    "businessName": ["businessname", "business_name", "company_name", "company", "name", "business", "organization"],
    "contactFullName": ["contactfullname", "contact_full_name", "full_name", "contact_name", "name"],
    "firstName": ["firstname", "first_name", "fname", "given_name"],
    "lastName": ["lastname", "last_name", "lname", "family_name", "surname"],
    "contactRole": ["contactrole", "contact_role", "role", "position", "title", "job_title"],
    "contactEmail": ["contactemail", "contact_email", "email", "e-mail", "mail", "contact", "primary_email"],
    "phone": ["phone", "telephone", "phone_number", "contact_phone", "mobile", "cell"],
    "profileImage": ["profileimage", "profile_image", "image", "photo", "avatar", "logo"],
    "streetAddress1": ["streetaddress1", "street_address1", "address", "street", "address1", "street1", "street_address"],
    "city1": ["city1", "city", "city_1", "town", "municipality"],
    "stateOrProvince1": ["stateorprovince1", "state_or_province1", "state", "province", "region", "state1"],
    "zipCode1": ["zipcode1", "zip_code1", "zip", "postal_code", "zipcode", "postal"],
    "country1": ["country1", "country", "country_1", "nation", "location"],
    "multipleLocations": ["multiplelocations", "multiple_locations", "has_multiple_locations", "multi_location"],
    "createdAt": ["createdat", "created_at", "date_created", "created_date", "timestamp"],
    "networkStatus": ["networkstatus", "network_status", "status", "network"],
    "dataSource": ["datasource", "data_source", "source", "import_source"],
    "sourceFile": ["sourcefile", "source_file", "file_name", "filename", "import_file"],
    "membershipStatus": ["membershipstatus", "membership_status", "member_status", "status"],
    "subscriptionStatus": ["subscriptionstatus", "subscription_status", "subscription"],
    "isTrial": ["istrial", "is_trial", "trial", "trial_member", "trial_status"],
    "memberOfferings": ["memberofferings", "member_offerings", "offerings", "services_offered"],
    "designServices": ["designservices", "design_services", "design"],
    "suppliedEquipment": ["suppliedequipment", "supplied_equipment", "equipment_supplied"],
    "facilityEquipment": ["facilityequipment", "facility_equipment", "equipment_facility"],
    "ingredients": ["ingredients", "ingredient", "ingredient_list", "components", "materials"],
    "laboratoryServices": ["laboratoryservices", "laboratory_services", "lab_services", "labservices"],
    "legalServices": ["legalservices", "legal_services", "legal"],
    "logisticalServices": ["logisticalservices", "logistical_services", "logistics", "logistics_services"],
    "marketingServices": ["marketingservices", "marketing_services", "marketing"],
    "deliveredIn": ["deliveredin", "delivered_in", "delivery_packaging", "packaging_delivered"],
    "suppliedPackaging": ["suppliedpackaging", "supplied_packaging", "packaging_supplied"],
    "regulatoryServices": ["regulatoryservices", "regulatory_services", "regulatory"],
    "manufacturingServices": ["manufacturingservices", "manufacturing_services", "manufacturing"],
    "startupFriendlyServices": ["startupfriendlyservices", "startup_friendly_services", "startup_services", "startupservices"],
    "facilityDetails": ["facilitydetails", "facility_details", "facility"],
    "facilityAmenities": ["facilityamenities", "facility_amenities", "amenities"],
    "typeOfSpace": ["typeofspace", "type_of_space", "space_type", "spaces"],
    "typeOfAgreement": ["typeofagreement", "type_of_agreement", "agreement_type", "agreements"],
    "consultingServices": ["consultingservices", "consulting_services", "consulting"],
    "website": ["website", "web", "site", "url", "web_site"],
    "facebookURL": ["facebookurl", "facebook_url", "facebook", "fb_url"],
    "instagramURL": ["instagramurl", "instagram_url", "instagram", "ig_url"],
    "linkedinURL": ["linkedinurl", "linkedin_url", "linkedin", "li_url"],
    "twitterURL": ["twitterurl", "twitter_url", "twitter", "tw_url"],
    "youtubeURL": ["youtubeurl", "youtube_url", "youtube", "yt_url"],
    "companyBio": ["companybio", "company_bio", "bio", "business_bio", "description", "about", "company description", "business description", "company bio"],
    "businessDetails": ["businessdetails", "business_details", "business_info", "company_details"],
    "idealClient": ["idealclient", "ideal_client", "target_client", "client_profile"],
    "moq": ["moq", "minimum_order_quantity", "min_order", "minimum_order"],
    "readyToStartNow": ["readytostartnow", "ready_to_start_now", "available_now", "ready_now"],
    "bookingProjectsForMonth": ["bookingprojectsformonth", "booking_projects_for_month", "projects_month"],
    "bookingProjectsForYear": ["bookingprojectsforyear", "booking_projects_for_year", "projects_year"],
    "leadTimes": ["leadtimes", "lead_times", "lead_time", "delivery_time"],
    "products": ["products", "product", "product_list", "items", "goods"],
    "certifications": ["certifications", "certification", "certs", "cert_list"],
    "allergens": ["allergens", "allergen", "allergen_list", "allergies"],
    "byProducts": ["byproducts", "by_products", "byproduct", "by_product"],
    "upCycledIngredients": ["upcycledingredients", "up_cycled_ingredients", "upcycled", "recycled_ingredients"],
    "sustainability": ["sustainability", "sustainable", "sustainability_info", "eco_friendly"],
    "firebaseUID": ["firebaseuid", "firebase_uid", "firebase_id", "user_id"],
    "updatedAt": ["updatedat", "updated_at", "last_updated", "modified_date"],
}

# required at upload validation (reference app/etl.py:539-546)
REQUIRED_COLUMNS = ("businessName", "contactEmail", "streetAddress1", "city1", "country1", "companyBio")
IMPORTANT_COLUMNS = ("products", "ingredients", "website", "phone", "stateOrProvince1", "zipCode1")

# --- item kinds exploded from multi-value cells (reference app/etl.py:1381-1384) ---
ITEM_KINDS = ("product", "ingredient", "certification", "allergen")
ITEM_KIND_COLUMNS = {
    "product": "products",
    "ingredient": "ingredients",
    "certification": "certifications",
    "allergen": "allergens",
}

# --- offering derivation rules: source field -> (offering title, fallback uid)
# (reference app/etl.py:234-307; Manufacturing also triggered by non-empty
# products, reference app/etl.py:339-374) ---
OFFERING_RULES: list[tuple[str, str, str]] = [
    ("designServices", "Design", "0x19f191"),
    ("suppliedEquipment", "Equipment", "0x494de"),
    ("facilityEquipment", "Equipment", "0x494de"),
    ("ingredients", "Ingredients", "0x2626b4"),
    ("laboratoryServices", "Laboratory", "0x928dd"),
    ("legalServices", "Legal", "0x2192be"),
    ("logisticalServices", "Logistics", "0x200c34"),
    ("marketingServices", "Marketing", "0x30e3a"),
    ("deliveredIn", "Packaging", "0x928dc"),
    ("suppliedPackaging", "Packaging", "0x928dc"),
    ("regulatoryServices", "Regulatory", "0x7a21e"),
    ("facilityDetails", "Spaces", "0x19f18f"),
    ("typeOfSpace", "Spaces", "0x19f18f"),
    ("typeOfAgreement", "Spaces", "0x19f18f"),
    ("facilityAmenities", "Spaces", "0x19f18f"),
    ("manufacturingServices", "Manufacturing", "0x2c411f"),
    ("startupFriendlyServices", "R&D", "0x19f192"),
    ("consultingServices", "Consulting", "0x2aba6c"),
]

# --- semantic guard keyword categories + conflicting pairs (reference app/routes.py:129-177) ---
CATEGORY_KEYWORDS: dict[str, list[str]] = {
    "vitamins": ["vitamin", "vitamins", "vit", "ascorbic", "thiamine", "riboflavin", "niacin", "b12", "b6", "folate", "biotin", "pantothenic"],
    "amino_acids": ["amino", "acid", "protein", "peptide", "glutamine", "arginine", "lysine", "methionine", "tryptophan", "tyrosine"],
    "minerals": ["calcium", "iron", "zinc", "magnesium", "selenium", "copper", "manganese", "chromium", "iodine", "phosphorus"],
    "omega": ["omega", "dha", "epa", "fatty", "acid", "fish", "oil", "flax", "linseed"],
    "probiotics": ["probiotic", "probiotics", "lactobacillus", "bifidobacterium", "acidophilus", "bacteria", "culture"],
    "prebiotics": ["prebiotic", "prebiotics", "fiber", "inulin", "fructooligosaccharide", "galactooligosaccharide"],
    "certifications": ["organic", "certified", "usda", "canada", "european", "bio", "eco", "sustainable", "fair trade"],
    "additives": ["additive", "additives", "preservative", "stabilizer", "emulsifier", "thickener", "colorant"],
    "adhesives": ["adhesive", "adhesives", "glue", "bonding", "sealant", "cement", "paste"],
}

PROBLEMATIC_PAIRS: list[tuple[str, str]] = [
    ("vitamin", "amino"),
    ("vitamin", "protein"),
    ("vitamin", "peptide"),
    ("additive", "adhesive"),
    ("additive", "glue"),
    ("additive", "bonding"),
    ("probiotic", "prebiotic"),
    ("bacteria", "fiber"),
    ("culture", "inulin"),
    ("calcium", "vitamin"),
    ("iron", "vitamin"),
    ("zinc", "vitamin"),
]

GUARD_MIN_LENGTH_RATIO = 0.5  # reference app/routes.py:188-191

# --- variant normalization rules (reference app/etl.py:789-834), applied
# case-insensitively before punctuation strip ---
VARIANT_RULES: list[tuple[str, str]] = [
    (r"\bvit\s+c\b", "Vitamin C"),
    (r"\bvit\s+d\b", "Vitamin D"),
    (r"\bvit\s+b\b", "Vitamin B"),
    (r"\bvit\s+e\b", "Vitamin E"),
    (r"\bvit\s+a\b", "Vitamin A"),
    (r"\bvit\s+k\b", "Vitamin K"),
    (r"\bprobiotics?\b", "Probiotics"),
    (r"\bprebiotics?\b", "Prebiotics"),
    (r"\bomega\s*3\b", "Omega-3"),
    (r"\bomega\s*6\b", "Omega-6"),
    (r"\bomega\s*9\b", "Omega-9"),
    (r"\bcoq10\b", "CoQ10"),
    (r"\bco\s*q\s*10\b", "CoQ10"),
    (r"\bB\.\s*adolescentis\b", "Bifidobacterium adolescentis"),
    (r"\bB\.\s*lactis\b", "Bifidobacterium lactis"),
    (r"\bB\.\s*bifidum\b", "Bifidobacterium bifidum"),
    (r"\bL\.\s*acidophilus\b", "Lactobacillus acidophilus"),
    (r"\bL\.\s*rhamnosus\b", "Lactobacillus rhamnosus"),
    (r"\bL\.\s*casei\b", "Lactobacillus casei"),
    (r"\bS\.\s*boulardii\b", "Saccharomyces boulardii"),
    (r"\bS\.\s*cerevisiae\b", "Saccharomyces cerevisiae"),
    (r"\bstevia\b", "Stevia"),
    (r"\bmonk\s*fruit\b", "Monk Fruit"),
    (r"\bmonkfruit\b", "Monk Fruit"),
    (r"\bchicory\s*root\b", "Chicory Root"),
    (r"\binulin\b", "Inulin"),
    (r"\bpectin\b", "Pectin"),
    (r"\bguar\s*gum\b", "Guar Gum"),
    (r"\bxanthan\s*gum\b", "Xanthan Gum"),
    (r"\bcarrageenan\b", "Carrageenan"),
    (r"\bagar\b", "Agar"),
    (r"\bgelatine?\b", "Gelatin"),
]
