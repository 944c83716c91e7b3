{{ config(materialized='table') }}
SELECT date, precipitation_inch, precipitation_normal_inch
FROM {{ source('climate', 'precipitation') }}
